"""T16 — stopword corpora.

The reference ships three corpora (SURVEY §2.8 T16): the Glasgow English
stop list (NLP.py:14-55), a domain stop list (BioStopWords.py:2-794) and
the Brown-corpus common-word list used for case-sensitive gene-symbol
filtering (BioStopWords.py:796-50613). The NLP ``STOPLIST`` stays the
compact Glasgow-style set (the chunker/SVO goldens pin its behavior);
the analyzer stop list, domain stop list and common-words corpus come
from :mod:`corpora` (full-size, public-knowledge vocabulary) unioned
with the curated gene-symbol trap words below.
"""

from __future__ import annotations

from .corpora import (  # noqa: F401  (re-exported corpus surface)
    COMMON_WORDS_FULL,
    DOMAIN_STOP_WORDS_FULL,
    ES_ANALYZER_STOP_WORDS,
)

# Glasgow-style English stop list (core subset).
ENGLISH_STOP_WORDS = frozenset(
    """a about above across after afterwards again against all almost alone
    along already also although always am among amongst an and another any
    anyhow anyone anything anywhere are around as at back be became because
    become becomes becoming been before beforehand behind being below beside
    besides between beyond both but by can cannot could did do does doing
    done down during each eg either else elsewhere enough etc even ever
    every everyone everything everywhere except few for former formerly from
    further had has have he hence her here hereafter hereby herein hereupon
    hers herself him himself his how however ie if in indeed into is it its
    itself last latter latterly least less many may me meanwhile might more
    moreover most mostly much must my myself namely neither never
    nevertheless next no nobody none noone nor not nothing now nowhere of
    off often on once one only onto or other others otherwise our ours
    ourselves out over own per perhaps rather same see seem seemed seeming
    seems several she should since so some somehow someone something
    sometime sometimes somewhere still such than that the their them
    themselves then thence there thereafter thereby therefore therein
    thereupon these they this those though through throughout thru thus to
    together too toward towards under until up upon us very via was we well
    were what whatever when whence whenever where whereafter whereas whereby
    wherein whereupon wherever whether which while whither who whoever whole
    whom whose why will with within without would yet you your yours
    yourself yourselves""".split()
)

# Words allowed through despite being in the stop list (NLP.py:358-360
# computes STOPLIST - ALLOWED_STOPLIST; 'be' must survive as a verb lemma).
ALLOWED_STOP_WORDS = frozenset({"be", "can", "may", "will"})

STOPLIST = ENGLISH_STOP_WORDS - ALLOWED_STOP_WORDS

# Domain stop words: high-frequency biomedical boilerplate. The compact
# core (used by the chunker goldens) + the full corpus.
_DOMAIN_CORE = frozenset(
    """patient patients study studies result results conclusion conclusions
    method methods background objective objectives aim aims purpose analysis
    group groups control controls significant significantly treatment
    clinical trial trials data baseline outcome outcomes effect effects
    level levels rate rates risk case cases report reports review""".split()
)
DOMAIN_STOP_WORDS = _DOMAIN_CORE | DOMAIN_STOP_WORDS_FULL

# Common English words that collide with gene symbols (the precision traps
# of tests/resources/common_words_as_genes.txt): used by the
# case-sensitive-category filter (NLP.py:622-641). Curated trap words —
# every one is a real HGNC-style symbol collision — unioned with the
# full common-words corpus.
_GENE_TRAP_WORDS = frozenset(
    """was has can all but its set act arm impact large light kit fast rest
    camp cat chip clock coil cope dad damage fine flame gas hip item jun
    mark mass melt men met mice nude pole rain rev sex ship shot span spring
    stop tank trap trip wars web zip age aid air anger apex arc army ask
    atom aura axis bad bag ball band bank bar base bat bead beam bean bear
    beat bed bee bell belt bend bet bid big bind bit bite blot blue boat
    body bold bolt bomb bond bone book boot born boss bowl box boy bud bug
    bulk bull burn bus bush busy buy cab cafe cage cake calf call calm""".split()
)
COMMON_WORDS = _GENE_TRAP_WORDS | COMMON_WORDS_FULL

# The reference declares ['TARGET', 'DRUG' 'CHEMICAL', 'GENE',
# 'PROTEINCOMPLEX'] (NLP.py:132) — the missing comma fuses
# 'DRUGCHEMICAL'; this is the evident intent.
SHORT_MATCH_CASE_SENSITIVE_CATEGORIES = frozenset(
    {"GENE", "PROTEIN", "TARGET", "DRUG", "CHEMICAL", "PROTEINCOMPLEX"}
)


# Nouns ending in -ly: the known collisions of any "-ly is an adverb"
# suffix heuristic (consumed by kernels/chunker and nlp_ops POS).
LY_NOUNS = frozenset(
    "family assembly supply anomaly butterfly monopoly reply italy july"
    " belly jelly lily rally tally folly holly ally".split()
)
