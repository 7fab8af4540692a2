"""Sources & sinks (SURVEY §2.1 S1-S11).

MEDLINE XML ingestion re-expressed Spark-first:

- The reference implements a custom splittable line-assembling source
  (main.py:107-180) because Beam needed one. Spark doesn't: MEDLINE
  baseline files are gzipped XML, and gzip is unsplittable, so the unit
  of parallelism is the FILE either way (~1k files). We read each file
  whole (``spark.read.text(..., wholetext=True)`` keeps codec
  auto-detection — S3's CompressionTypes.AUTO) and extract citation
  blocks with a compiled regex — the same block-accumulation the
  reference does line-by-line (main.py:107-123), minus the hand-rolled
  range tracker Spark's FileScan replaces (S2).
- Parsing is stdlib ElementTree inside ``mapInPandas`` (Arrow-batched,
  one Python worker per file partition); malformed XML recovers the PMID
  by scanning for </PMID> and yields an errored row, matching
  main.py:330-338's error path.
- Tombstones: every <DeleteCitation><PMID> yields
  {pub_id, filename, is_deleted: true} (main.py:290-305).

JSON sinks mirror S6/S7 (sharded gzip JSON lines); Parquet is the
engine's primary table format (S9's ES loader is optional — see
pipelines/load.py).
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from datetime import date

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import RAW_CITATION

_BLOCK_RE = re.compile(
    r"<MedlineCitation[\s>].*?</MedlineCitation>|<DeleteCitation>.*?</DeleteCitation>",
    re.DOTALL,
)

_MONTHS = {
    "jan": 1, "feb": 2, "mar": 3, "apr": 4, "may": 5, "jun": 6,
    "jul": 7, "aug": 8, "sep": 9, "oct": 10, "nov": 11, "dec": 12,
}


def _parse_date(year: str | None, month: str | None, day: str | None) -> date | None:
    """PubDate assembly with the reference defaults ('1800','Jan','1') —
    main.py:363-377."""
    y = (year or "1800").strip()
    m = (month or "Jan").strip()
    d = (day or "1").strip()
    try:
        month_n = int(m) if m.isdigit() else _MONTHS.get(m[:3].lower(), 1)
        return date(int(y), month_n, int(d))
    except (ValueError, KeyError):
        return None


def _text(el, path: str) -> str | None:
    found = el.find(path)
    if found is None or found.text is None:
        return None
    return found.text


def parse_citation_block(block: str, filename: str) -> Iterator[dict]:
    """One XML block → 0..n RAW_CITATION dicts (n for DeleteCitation PMID
    lists). Mirrors parse_medline_xml (main.py:235-338) behaviorally."""
    import xml.etree.ElementTree as ET

    if block.startswith("<DeleteCitation"):
        try:
            root = ET.fromstring(block)
            for pmid in root.findall("PMID"):
                if pmid.text:
                    yield {"pub_id": pmid.text, "filename": filename, "is_deleted": True}
        except ET.ParseError:
            pass
        return

    try:
        root = ET.fromstring(block)
    except ET.ParseError:
        # malformed-XML recovery: salvage the PMID (main.py:330-338)
        m = re.search(r"<PMID[^>]*>(\d+)</PMID>", block)
        if m:
            yield {"pub_id": m.group(1), "filename": filename, "is_deleted": False}
        return

    rec: dict = {
        "pub_id": _text(root, "PMID"),
        "filename": filename,
        "is_deleted": False,
    }
    if not rec["pub_id"]:
        return

    created = root.find("DateCreated")
    if created is not None:
        rec["first_publication_date"] = _parse_date(
            _text(created, "Year"), _text(created, "Month"), _text(created, "Day")
        )

    art = root.find("Article")
    if art is not None:
        rec["title"] = _text(art, "ArticleTitle")
        abstract = art.find("Abstract")
        if abstract is not None:
            pieces = [a.text for a in abstract.findall("AbstractText") if a.text]
            rec["abstract"] = " ".join(pieces) if pieces else None
        journal = art.find("Journal")
        if journal is not None:
            rec["journal"] = {
                "title": _text(journal, "Title"),
                "medlineAbbreviation": _text(journal, "ISOAbbreviation"),
            }
            issue = journal.find("JournalIssue")
            if issue is not None:
                rec["journal_reference"] = {
                    "volume": _text(issue, "Volume"),
                    "issue": _text(issue, "Issue"),
                    "pgn": _text(art, "Pagination/MedlinePgn"),
                }
                pub_date = issue.find("PubDate")
                if pub_date is not None:
                    rec["pub_date"] = _parse_date(
                        _text(pub_date, "Year"),
                        _text(pub_date, "Month"),
                        _text(pub_date, "Day"),
                    )
        for eloc in art.findall("ELocationID"):
            if eloc.get("EIdType") == "doi" and eloc.text:
                rec["doi"] = eloc.text
        rec["pub_type"] = [
            pt.text for pt in art.findall("PublicationTypeList/PublicationType") if pt.text
        ] or None
        authors = []
        for a in art.findall("AuthorList/Author"):
            last, fore = _text(a, "LastName"), _text(a, "ForeName")
            initials = _text(a, "Initials")
            author = {
                "LastName": last,
                "ForeName": fore,
                "Initials": initials,
                "CollectiveName": _text(a, "CollectiveName"),
                "Suffix": _text(a, "Suffix"),
                "Identifier": _text(a, "Identifier"),
                "affiliation": _text(a, "AffiliationInfo/Affiliation"),
                # name synthesis per main.py:411-418
                "short_name": f"{last} {initials}" if last and initials else last,
                "full_name": f"{fore} {last}" if last and fore else last,
            }
            authors.append(author)
        rec["authors"] = authors or None

    rec["keywords"] = [
        k.text for k in root.findall("KeywordList/Keyword") if k.text
    ] or None
    rec["mesh_headings"] = [
        {"id": d.get("UI"), "label": d.text}
        for d in root.findall("MeshHeadingList/MeshHeading/DescriptorName")
        if d.text
    ] or None
    rec["chemicals"] = [
        {
            "name": _text(c, "NameOfSubstance"),
            "name_id": (c.find("NameOfSubstance").get("UI") if c.find("NameOfSubstance") is not None else None),
            "registryNumber": _text(c, "RegistryNumber"),
        }
        for c in root.findall("ChemicalList/Chemical")
    ] or None
    yield rec


def _row_defaults(rec: dict) -> dict:
    return {f.name: rec.get(f.name) for f in RAW_CITATION.fields}


def read_medline_xml(spark: SparkSession, path: str) -> DataFrame:
    """S1/S3: glob of (gzipped) MEDLINE XML → typed RAW_CITATION rows."""
    raw = spark.read.text(path, wholetext=True).select(
        F.col("value"), F.input_file_name().alias("_file")
    )

    def parse_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for xml_text, fname in zip(pdf["value"], pdf["_file"]):
                short = fname.rsplit("/", 1)[-1]
                for block in _BLOCK_RE.findall(xml_text):
                    for rec in parse_citation_block(block, short):
                        rows.append(_row_defaults(rec))
            yield pd.DataFrame(rows, columns=[f.name for f in RAW_CITATION.fields])

    return raw.mapInPandas(parse_batch, schema=RAW_CITATION)


def write_json_gz(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S6/S7: sharded gzip JSON-lines sink (structure preserved until the
    sink boundary — F.to_json happens inside the writer)."""
    df.write.mode(mode).option("compression", "gzip").json(path)


def read_enriched_json(spark: SparkSession, path: str, schema) -> DataFrame:
    """S5: re-entry point over previously enriched JSON (schema supplied,
    never inferred)."""
    return spark.read.schema(schema).json(path)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None,
                  mode: str = "overwrite") -> None:
    """Primary engine sink: partitioned Parquet (replaces the ES indexes
    as the queryable store; load2es's bulk tuning S9/S10 becomes writer
    options)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
