"""etl_full: the batch write path. A seeded MEDLINE corpus (baseline then
update files, gzipped XML) runs through ``pipelines.run_enrich`` ->
``run_split`` -> ``run_load`` into the four Parquet sinks."""

from __future__ import annotations

import os
import statistics
import time

from pyspark import StorageLevel
from pyspark.sql import functions as F

from library_beam_spark.io import read_medline_xml
from library_beam_spark.kernels.tagger import BioEntityTagger
from library_beam_spark.nlp_ops import analyze_document, get_text_to_analyze, nlp_enrich
from library_beam_spark.operators.dedup import latest_version
from library_beam_spark.pipelines import run_enrich, run_load, run_split
from library_beam_spark.pipelines.enrich import parse_and_dedup
from library_beam_spark.vocab import load_vocabulary_dir

from .gen import make_corpus
from .probes import dir_bytes
from .trace import Tracer

CITATIONS = 960  # citation blocks written over all files, before tombstones
SINKS = ("publication", "bioentities", "taggedtext", "concepts")


def _versions(df) -> set[tuple]:
    return {tuple(r) for r in df.select("pub_id", "filename").collect()}


def _enriched_rows(df) -> set[tuple]:
    return {tuple(r) for r in df.select(
        "pub_id", "filename", F.to_json("text_mined_entities")).collect()}


class EtlFull:
    def __init__(self, spark, work: str, seed: int, cores: int):
        self.spark, self.work, self.seed, self.cores = spark, work, seed, cores
        self.out = os.path.join(work, "sinks")
        self.pass_s: list[float] = []
        self.enriched = None
        self.trace_problems: list[str] = []

    def setup(self) -> None:
        n_files = 4 * self.cores
        n_updates = n_files // 4
        size = CITATIONS // n_files
        self.corpus = make_corpus(os.path.join(self.work, "corpus"), self.seed,
                                  n_files - n_updates, size, [size] * n_updates)
        self.baseline_glob = os.path.join(self.work, "corpus", "baseline", "*.xml.gz")
        self.updates_glob = os.path.join(self.work, "corpus", "updates", "*.xml.gz")
        self.vocab = load_vocabulary_dir(self.corpus.vocab_dir)
        self._pass()  # warm-up at the timed scale

    def _pass(self) -> float:
        if self.enriched is not None:
            self.enriched.unpersist()
        t0 = time.perf_counter()
        self.enriched = run_enrich(self.spark, self.baseline_glob, self.updates_glob, self.vocab)
        run_load(run_split(self.enriched), self.out)
        return time.perf_counter() - t0

    def timed(self, seconds: float, tracer: Tracer | None = None) -> float | None:
        """Timed passes, then one traced pass when ``tracer`` is given."""
        t_end = time.perf_counter() + seconds
        while not self.pass_s or time.perf_counter() < t_end:
            self.pass_s.append(self._pass())
        return self._traced(tracer) if tracer else None

    @property
    def attempted(self) -> int:
        return self.corpus.citations * len(self.pass_s)

    def check(self) -> list[str]:
        truth, spark, problems = self.corpus.truth, self.spark, list(self.trace_problems)
        # failed: citations with text whose enrichment came back empty
        nlp = F.col("text_mined_entities.nlp")
        self.failed = self.enriched.where(
            F.col("title").isNotNull() & (F.coalesce(nlp["tagged_text"], F.lit("")) == "")
        ).count() * len(self.pass_s)
        tables = {n: spark.read.parquet(os.path.join(self.out, n)) for n in SINKS}
        got = {r["pub_id"]: r["filename"]
               for r in tables["publication"].select("pub_id", "filename").collect()}
        if got != truth.winners:
            wrong = set(got.items()) ^ set(truth.winners.items())
            problems.append(f"winners differ from ground truth on {len(wrong)} entries")
        if truth.tombstoned & set(got):
            problems.append(f"{len(truth.tombstoned & set(got))} tombstoned PMIDs survived")
        n_concepts = self.enriched.select(
            F.sum(F.size("text_mined_entities.nlp.concepts"))).first()[0]
        expected = {"publication": len(truth.winners), "bioentities": len(truth.winners),
                    "taggedtext": len(truth.winners), "concepts": n_concepts}
        for name, n in expected.items():
            rows = tables[name].count()
            if rows != n or rows == 0:
                problems.append(f"{name}: {rows} rows, expected {n}")
        tags: dict[str, set[str]] = {}
        for r in tables["bioentities"].select(
                "pub_id", F.flatten("entities.reference").alias("ids")).collect():
            tags[r["pub_id"]] = set(r["ids"] or [])
        missing = sum(1 for p, ids in truth.planted.items() if not set(ids) <= tags.get(p, set()))
        if missing:
            problems.append(f"{missing} publications miss a planted dictionary id")
        salvaged = (read_medline_xml(spark, self.baseline_glob)
                    .unionByName(read_medline_xml(spark, self.updates_glob))
                    .where(~F.col("is_deleted") & F.col("title").isNull()).count())
        if salvaged != truth.malformed:
            problems.append(f"{salvaged} salvaged malformed blocks, expected {truth.malformed}")
        return problems

    def end_to_end(self) -> dict[str, float]:
        p50 = statistics.median(self.pass_s)
        out_bytes = sum(dir_bytes(os.path.join(self.out, n)) for n in SINKS)
        return {
            "citations_per_s": self.corpus.citations / p50,
            "update_p50_s": p50,
            "suite_s": p50,
            "out_bytes_per_citation": out_bytes / self.corpus.citations,
        }

    # -- traced pass -------------------------------------------------------

    def _traced(self, tracer: Tracer) -> float:
        """One pass with each layer's input materialized first. It copies
        ``run_enrich``'s composition through the same public calls, and
        afterwards checks that the copy computes what the program does."""
        spark, keep = self.spark, StorageLevel.MEMORY_AND_DISK
        untraced = _enriched_rows(self.enriched)  # the last timed pass, still cached
        self.enriched.unpersist()
        t0 = time.perf_counter()
        with tracer.span("etl.pass"):
            with tracer.span("io.parse"):
                parsed = (read_medline_xml(spark, self.baseline_glob)
                          .unionByName(read_medline_xml(spark, self.updates_glob))
                          .withColumn("_ingest_id", F.monotonically_increasing_id())
                          .persist(keep))
                self.n_parsed = parsed.count()
            with tracer.span("dedup"):
                deduped = latest_version(
                    parsed, key_cols=["pub_id"], version_cols=["filename", "_ingest_id"],
                    tombstone_col="is_deleted").drop("_ingest_id").persist(keep)
                self.n_deduped = deduped.count()
            with tracer.span("nlp_ops.enrich"):
                enriched = nlp_enrich(
                    deduped.withColumn("text_to_analyze", get_text_to_analyze("title", "abstract")),
                    vocab=self.vocab).persist(keep)
                enriched.count()
            with tracer.span("load"):
                self.enriched = enriched.drop("text_to_analyze")
                run_load(run_split(self.enriched), self.out)
        total = time.perf_counter() - t0
        program = parse_and_dedup(spark, self.baseline_glob, self.updates_glob)
        if _versions(program) != _versions(deduped):
            self.trace_problems.append("traced dedup differs from parse_and_dedup")
        if _enriched_rows(self.enriched) != untraced:
            self.trace_problems.append("traced pass output differs from run_enrich")
        # the same documents through the kernel alone, in this one process
        texts = [r[0] for r in enriched.select("text_to_analyze").collect()]
        tagger = BioEntityTagger(self.vocab)
        k0 = time.perf_counter()
        for text in texts:
            analyze_document(text, tagger)
        self.kernel_s = time.perf_counter() - k0
        parsed.unpersist()
        deduped.unpersist()
        return total

    def per_layer(self, tracer: Tracer, attrib: dict[int, dict]) -> dict[str, float]:
        span = {name: tracer.named(name)[-1] for name in ("io.parse", "dedup", "nlp_ops.enrich", "load")}
        secs = {name: s["end"] - s["start"] for name, s in span.items()}
        enrich, load = attrib[span["nlp_ops.enrich"]["id"]], attrib[span["load"]["id"]]
        return {
            "io.parse_s": secs["io.parse"],
            "dedup.s": secs["dedup"],
            "dedup.drop_share": (self.n_parsed - self.n_deduped) / self.n_parsed,
            "nlp_ops.enrich_s": secs["nlp_ops.enrich"],
            "nlp_ops.tasks": enrich["tasks"],
            "nlp_ops.core_busy_share": enrich["task_s"] / (secs["nlp_ops.enrich"] * self.cores),
            "nlp_ops.kernel_share": self.kernel_s / enrich["task_s"],
            "load.write_s": secs["load"],
            "load.shuffle_mb": load["shuffle_bytes"] / 2**20,
        }
