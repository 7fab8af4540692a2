"""Seeded synthetic MEDLINE corpus with ground truth.

``make_corpus`` writes gzipped MEDLINE XML the way NLM publishes it:
baseline files first, then update files whose names sort after them.
Update files carry revised PMIDs, new PMIDs and ``<DeleteCitation>``
tombstones, and one late update file has a name older than the other
updates. A fixed share of citation blocks is malformed XML that still
carries a readable PMID (the parser salvages those as empty records).
Abstracts are realistic in length, with planted dictionary terms and
``long form (LF)`` abbreviations.

The program under test receives only the XML files and the vocabulary
directory. The ground truth (``Truth``) stays with the benchmark:

- ``winners``: PMID -> file name of its latest version, for every PMID
  whose latest version is not a tombstone;
- ``tombstoned``: PMIDs whose latest version is a ``DeleteCitation``;
- ``planted``: PMID -> dictionary ids planted in its winning version;
- ``malformed``: the number of malformed citation blocks written.

Version order is file-name order, as in MEDLINE; no PMID appears twice
in one file. The same arguments always give byte-identical files.
"""

from __future__ import annotations

import gzip
import json
import os
import random
from dataclasses import dataclass, field

MALFORMED_SHARE = 0.01
# of an update file's citation count: the share that revises existing
# PMIDs (the rest are new), and the share added again as tombstones
REVISE_SHARE = 0.4
DELETE_SHARE = 0.1

_NOUNS = (
    "protein expression patients cells receptor pathway response treatment "
    "cohort mice tissue signaling level activity mutation risk outcome "
    "therapy dose plasma serum biopsy tumor lesion infection marker gene "
    "transcription kinase ligand membrane enzyme antibody cytokine neuron "
    "liver kidney lung heart muscle bone blood vessel sample trial analysis"
).split()
_ADJS = (
    "chronic acute severe mild elevated reduced novel significant primary "
    "secondary systemic local early late high low clinical molecular "
    "cellular functional genetic adult pediatric randomized prospective"
).split()
_VERBS = (
    "inhibits activates regulates increased reduced induces affects "
    "binds modulates predicts suppressed enhanced promotes limits"
).split()
_PREPS = "in with during after among before within".split()
_SYLL = (
    "ka lo ri ven tor mi sa bel dru fen qua zo pri lex mor tan vi cor hep "
    "sul nar gil tes dor pam rox ul fi ber mon kel"
).split()
_CATEGORIES = (
    ("GENE", "OPENTARGETS", "ENSG{:011d}"),
    ("DISEASE", "OPENTARGETS", "EFO_{:07d}"),
    ("DRUG", "CHEMBL", "CHEMBL{:d}"),
    ("PHENOTYPE", "HPO", "HP_{:07d}"),
)
_DISEASE_SUFFIX = ("syndrome", "disease", "dystrophy", "fever")
_DRUG_SUFFIX = ("mab", "nib", "statin", "cillin")


@dataclass
class Truth:
    winners: dict[str, str] = field(default_factory=dict)
    tombstoned: set[str] = field(default_factory=set)
    planted: dict[str, list[str]] = field(default_factory=dict)
    malformed: int = 0

    def to_json(self) -> dict:
        return {
            "winners": self.winners,
            "tombstoned": sorted(self.tombstoned),
            "planted": self.planted,
            "malformed": self.malformed,
        }


@dataclass
class Corpus:
    baseline: list[str]  # file paths in name order
    updates: list[str]  # file paths in landing order
    vocab_dir: str
    truth: Truth
    # file name -> its (PMID, is_deleted) entries: citations and tombstones
    entries: dict[str, list[tuple[str, bool]]]

    @property
    def citations(self) -> int:
        return sum(len(e) for e in self.entries.values())

    def truth_after(self, landed: list[str]) -> dict[str, tuple[str, bool]]:
        """PMID -> (file name, is_deleted) of the latest version among
        the ``landed`` files (name order decides, not landing order)."""
        state: dict[str, tuple[str, bool]] = {}
        for path in sorted(landed, key=os.path.basename):
            for pmid, deleted in self.entries[os.path.basename(path)]:
                state[pmid] = (os.path.basename(path), deleted)
        return state


def _word(rng: random.Random, n: int) -> str:
    return "".join(rng.choice(_SYLL) for _ in range(n))


def make_vocab(rng: random.Random, per_category: int = 60) -> list[dict]:
    """Distinct dictionary terms: upper-case gene symbols, multi-word
    diseases and phenotypes, drug names. Terms share no words, so no
    planted term nests inside another."""
    terms: list[dict] = []
    used: set[str] = set()
    serial = 1000
    for category, db, id_fmt in _CATEGORIES:
        made = 0
        while made < per_category:
            if category == "GENE":
                surface = _word(rng, 2).upper()[:5] + str(rng.randint(1, 9))
            elif category == "DISEASE":
                surface = f"{_word(rng, 3)} {rng.choice(_DISEASE_SUFFIX)}"
            elif category == "DRUG":
                surface = _word(rng, 2) + rng.choice(_DRUG_SUFFIX)
            else:
                surface = f"{_word(rng, 2)} {_word(rng, 3)}"
            head = surface.split()[0].lower()
            if len(surface) < 5 or head in used:
                continue
            used.add(head)
            serial += rng.randint(1, 50)
            terms.append({"surface": surface, "category": category, "db": db,
                          "id": id_fmt.format(serial)})
            made += 1
    return terms


def _write_vocab(vocab_dir: str, terms: list[dict]) -> None:
    os.makedirs(vocab_dir, exist_ok=True)
    by_file: dict[str, dict] = {}
    for t in terms:
        name = f"{t['category']}__{t['db']}.json"
        by_file.setdefault(name, {})[t["surface"]] = {
            "ids": [t["id"]], "pref_name": t["surface"]}
    for name, body in sorted(by_file.items()):
        with open(os.path.join(vocab_dir, name), "w", encoding="utf-8") as f:
            json.dump(body, f, sort_keys=True)


def _sentence(rng: random.Random) -> str:
    words = [rng.choice(_ADJS), rng.choice(_NOUNS), rng.choice(_VERBS), "the",
             rng.choice(_ADJS), rng.choice(_NOUNS)]
    for _ in range(rng.randint(1, 3)):
        words += [rng.choice(_PREPS), rng.choice(_ADJS), rng.choice(_NOUNS)]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _abstract(rng: random.Random, terms: list[dict]) -> tuple[str, str, list[str]]:
    """(title, abstract, planted ids): about 150-260 words."""
    planted = rng.sample(terms, rng.randint(2, 5))
    sentences = [_sentence(rng) for _ in range(rng.randint(8, 13))]
    for t in planted:
        i = rng.randrange(len(sentences))
        sentences[i] = (f"{sentences[i][:-1]} and {t['surface']} "
                        f"{rng.choice(_PREPS)} {rng.choice(_NOUNS)}.")
    long_words = [rng.choice(_ADJS), rng.choice(_NOUNS), rng.choice(_NOUNS)]
    short = "".join(w[0] for w in long_words).upper()
    sentences.insert(1, f"We studied {' '.join(long_words)} ({short}) "
                        f"{rng.choice(_PREPS)} {rng.choice(_NOUNS)}.")
    sentences.append(f"{short} {rng.choice(_VERBS)} the {rng.choice(_NOUNS)}.")
    title = _sentence(rng)[:-1] + f" and {planted[0]['surface']}"
    return title, " ".join(sentences), sorted({t["id"] for t in planted})


def _citation_xml(rng: random.Random, pmid: str, version: int,
                  title: str, abstract: str, malformed: bool) -> str:
    year = rng.randint(1990, 2023)
    month = rng.choice(("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul",
                        "Aug", "Sep", "Oct", "Nov", "Dec"))
    last = _word(rng, 2).capitalize()
    fore = _word(rng, 2).capitalize()
    # an unclosed inline tag: the block is not well-formed XML, but its
    # PMID is still readable, as in the malformed records NLM ships
    title_xml = f"<i>{title}" if malformed else title
    return (
        f'<MedlineCitation Status="MEDLINE" Owner="NLM">\n'
        f'<PMID Version="{version}">{pmid}</PMID>\n'
        f"<DateCreated><Year>{year}</Year><Month>{rng.randint(1, 12):02d}</Month>"
        f"<Day>{rng.randint(1, 28):02d}</Day></DateCreated>\n"
        f'<Article PubModel="Print">\n'
        f"<Journal><ISOAbbreviation>J. {last[:4]}.</ISOAbbreviation>"
        f"<Title>Journal of {last}</Title>\n"
        f"<JournalIssue><Volume>{rng.randint(1, 90)}</Volume>"
        f"<Issue>{rng.randint(1, 12)}</Issue><PubDate><Year>{year}</Year>"
        f"<Month>{month}</Month></PubDate></JournalIssue></Journal>\n"
        f"<ArticleTitle>{title_xml}</ArticleTitle>\n"
        f"<Abstract><AbstractText>{abstract}</AbstractText></Abstract>\n"
        f"<AuthorList><Author><LastName>{last}</LastName><ForeName>{fore}</ForeName>"
        f"<Initials>{fore[0]}</Initials></Author></AuthorList>\n"
        f"<PublicationTypeList><PublicationType>Journal Article</PublicationType>"
        f"</PublicationTypeList>\n"
        f"</Article>\n"
        f"<KeywordList><Keyword>{rng.choice(_NOUNS)}</Keyword></KeywordList>\n"
        f"</MedlineCitation>\n"
    )


def _write_gz(path: str, blocks: list[str]) -> None:
    body = '<?xml version="1.0"?>\n<PubmedArticleSet>\n' + "".join(blocks) + "</PubmedArticleSet>\n"
    with open(path, "wb") as raw, gzip.GzipFile(filename="", mode="wb", fileobj=raw,
                                                 mtime=0, compresslevel=6) as gz:
        gz.write(body.encode("utf-8"))


def make_corpus(
    out_dir: str,
    seed: int,
    n_baseline: int,
    baseline_size: int,
    update_sizes: list[int],
    late_at: int | None = None,
) -> Corpus:
    """Write ``n_baseline`` baseline files of ``baseline_size`` citations
    and one update file per entry of ``update_sizes`` (its citation
    count: ``REVISE_SHARE`` of them revise existing PMIDs, the rest are
    new, and ``DELETE_SHARE`` as many again are tombstones). The update
    file at landing position ``late_at`` (default: the last) is named
    before every other update. The ground truth is also written to
    ``truth.json``, outside the directories the engine reads.
    """
    rng = random.Random(seed)
    terms = make_vocab(rng)
    vocab_dir = os.path.join(out_dir, "vocab")
    _write_vocab(vocab_dir, terms)
    base_dir = os.path.join(out_dir, "baseline")
    up_dir = os.path.join(out_dir, "updates")
    os.makedirs(base_dir, exist_ok=True)
    os.makedirs(up_dir, exist_ok=True)

    versions: dict[str, int] = {}  # PMID -> versions written so far
    content: dict[tuple[str, str], list[str] | None] = {}  # (pmid, file) -> ids
    entries: dict[str, list[tuple[str, bool]]] = {}
    malformed = 0
    next_pmid = 10_000_000 + rng.randrange(1_000_000)

    def citation(fname: str, pmid: str) -> str:
        nonlocal malformed
        versions[pmid] = versions.get(pmid, 0) + 1
        bad = rng.random() < MALFORMED_SHARE
        malformed += bad
        title, abstract, ids = _abstract(rng, terms)
        content[(pmid, fname)] = None if bad else ids
        entries[fname].append((pmid, False))
        return _citation_xml(rng, pmid, versions[pmid], title, abstract, bad)

    def fresh() -> str:
        nonlocal next_pmid
        next_pmid += rng.randint(1, 3)
        return str(next_pmid)

    yy = 20 + seed % 10
    baseline, updates = [], []
    for i in range(n_baseline):
        fname = f"pubmed{yy}n{i + 1:04d}.xml.gz"
        entries[fname] = []
        blocks = [citation(fname, fresh()) for _ in range(baseline_size)]
        _write_gz(os.path.join(base_dir, fname), blocks)
        baseline.append(os.path.join(base_dir, fname))

    # the late file takes the first update number but is written (and
    # lands) at position ``late_at``, after files named later than it
    n_up = len(update_sizes)
    late_at = n_up - 1 if late_at is None else late_at
    later = iter(range(n_baseline + 2, n_baseline + 2 + n_up))
    names = [f"pubmed{yy}n{(n_baseline + 1 if i == late_at else next(later)):04d}.xml.gz"
             for i in range(n_up)]
    for fname, size in zip(names, update_sizes):
        entries[fname] = []
        known = sorted(versions)
        n_rev = min(int(size * REVISE_SHARE), len(known))
        n_new = max(size - n_rev, 1)
        picked = rng.sample(known, n_rev + int(size * DELETE_SHARE))
        revised, deleted = picked[:n_rev], picked[n_rev:]
        blocks = [citation(fname, p) for p in revised]
        blocks += [citation(fname, fresh()) for _ in range(n_new)]
        rng.shuffle(blocks)
        if deleted:
            for p in deleted:
                entries[fname].append((p, True))
            blocks.append("<DeleteCitation>\n" + "".join(
                f'<PMID Version="1">{p}</PMID>\n' for p in deleted) + "</DeleteCitation>\n")
        _write_gz(os.path.join(up_dir, fname), blocks)
        updates.append(os.path.join(up_dir, fname))

    corpus = Corpus(baseline, updates, vocab_dir, Truth(malformed=malformed), entries)
    for pmid, (fname, deleted) in corpus.truth_after(baseline + updates).items():
        if deleted:
            corpus.truth.tombstoned.add(pmid)
            continue
        corpus.truth.winners[pmid] = fname
        ids = content[(pmid, fname)]
        if ids:
            corpus.truth.planted[pmid] = ids
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(corpus.truth.to_json(), f, sort_keys=True)
    return corpus
