"""The update feed: the incremental path. Setup merges a baseline; then one
client lands update files one at a time (closed loop). Each file is
parsed by ``io.read_medline_xml`` into the citation stream, applied as
one micro-batch of ``streaming.updates.foreach_batch_merge`` (default
manifest backend), and its PMIDs are looked up on the live snapshot.
A file's latency runs from landing until that lookup returns the new
versions."""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

from library_beam_spark.io import read_medline_xml
from library_beam_spark.pipelines.enrich import parse_and_dedup
from library_beam_spark.streaming.manifest import ManifestTable
from library_beam_spark.streaming.updates import (
    foreach_batch_merge,
    read_merge_table,
    stream_raw_citations,
)

from .gen import make_corpus
from .trace import Tracer

BASELINE_FILES, BASELINE_SIZE = 4, 300
REGULAR = 100
# one cycle of landed files, skewed in size (tiny and regular): a pass.
# With three regular files the median latency is the fastest of them,
# which a slow moment on the host moves least.
CYCLE = (1, REGULAR, 10, REGULAR, REGULAR)
# the suite's warm-up also runs before the timed files, so three suffice
WARMUP_FILES, MAX_CYCLES = 3, 2
COMMIT_TIMEOUT_S = 120


class UpdateFeed:
    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.incoming = os.path.join(work, "incoming")  # where XML files land
        self.source = os.path.join(work, "citations")  # the stream's source
        self.table_path = os.path.join(work, "winners")
        self.table = ManifestTable(self.table_path)
        self.landed: list[str] = []
        self.files: list[dict] = []  # per timed file: latency, citations, manifest change
        self.query = None
        self.pass_s: list[float] = []
        self.failed = 0

    # -- setup -------------------------------------------------------------

    def setup(self) -> None:
        # one spare cycle for the traced pass
        sizes = list(CYCLE[:WARMUP_FILES]) + list(CYCLE) * (MAX_CYCLES + 1)
        self.corpus = make_corpus(
            os.path.join(self.work, "corpus"), self.seed, BASELINE_FILES, BASELINE_SIZE,
            sizes, late_at=WARMUP_FILES - 1)
        self.pending = list(self.corpus.updates)
        os.makedirs(self.incoming)
        os.makedirs(self.source)
        stream = stream_raw_citations(self.spark, self.source)
        self.query = (foreach_batch_merge(stream, self.table_path)
                      .option("checkpointLocation", os.path.join(self.work, "checkpoint"))
                      .start())
        self._apply(self.corpus.baseline, Tracer.off())
        for _ in range(WARMUP_FILES):
            self._land(Tracer.off())

    def stop(self) -> None:
        if self.query is None or not self.query.isActive:
            return
        # trigger durations per micro-batch with input, in landing order
        self.batch_s = [p.durationMs.get("triggerExecution", 0) / 1000.0
                        for p in sorted(self.query.recentProgress, key=lambda p: p.batchId)
                        if p.numInputRows > 0]
        self.query.stop()

    # -- one file ----------------------------------------------------------

    def _apply(self, paths: list[str], tracer: Tracer) -> tuple[int, list]:
        """Land ``paths`` as one micro-batch and wait for its commit; returns
        the new manifest version and the lookup rows of their PMIDs."""
        before = self.table.latest_version()
        for p in paths:
            shutil.copy(p, self.incoming)
        self.landed += paths
        # one file, or every landed file for the baseline batch
        glob_ = os.path.join(self.incoming, os.path.basename(paths[0]) if len(paths) == 1
                             else "*.xml.gz")
        stage = os.path.join(self.work, "stage", os.path.basename(paths[0]))
        with tracer.span("io.parse"):
            read_medline_xml(self.spark, glob_).write.json(stage)
        with tracer.span("updates.merge"):
            # the parts joined into one file, so a landing is one rename and
            # the stream cannot split it over two micro-batches
            joined = os.path.join(stage, "joined.json")
            with open(joined, "wb") as out:
                for part in sorted(glob.glob(os.path.join(stage, "part-*"))):
                    with open(part, "rb") as f:
                        shutil.copyfileobj(f, out)
            os.rename(joined, os.path.join(self.source, os.path.basename(paths[0]) + ".json"))
            version = self._wait_commit(before)
        pmids = sorted({p for path in paths
                        for p, _ in self.corpus.entries[os.path.basename(path)]})
        with tracer.span("manifest.lookup"):
            rows = (read_merge_table(self.spark, self.table_path)
                    .where(F.col("pub_id").isin(pmids))
                    .select("pub_id", "filename", "is_deleted").collect())
        return version, rows

    def _wait_commit(self, before: int | None) -> int:
        deadline = time.monotonic() + COMMIT_TIMEOUT_S
        while True:
            v = self.table.latest_version()
            if v is not None and (before is None or v > before):
                return v
            if self.query.exception() is not None:
                raise RuntimeError(f"update stream failed: {self.query.exception()}")
            if time.monotonic() > deadline:
                raise TimeoutError("update micro-batch did not commit")
            time.sleep(0.005)

    def _land(self, tracer: Tracer) -> dict:
        path = self.pending.pop(0)
        name = os.path.basename(path)
        before = self.table.snapshot()
        t0 = time.perf_counter()
        with tracer.span("feed.file"):
            version, rows = self._apply([path], tracer)
        latency = time.perf_counter() - t0
        expected = self.corpus.truth_after(self.landed)
        got = {r["pub_id"]: (r["filename"], bool(r["is_deleted"])) for r in rows}
        want = {p: expected[p] for p, _ in self.corpus.entries[name]}
        if got != want:
            self.failed += 1
        after = self.table.snapshot(version)
        old_files = {f for fs in before["buckets"].values() for f in fs}
        new_files = [f for fs in after["buckets"].values() for f in fs if f not in old_files]
        return {
            "latency": latency, "citations": len(want),
            "buckets": sum(1 for b, fs in after["buckets"].items()
                           if fs != before["buckets"].get(b)),
            "rewrite_bytes": sum(os.path.getsize(os.path.join(self.table_path, f))
                                 for f in new_files),
        }

    # -- timed -------------------------------------------------------------

    def timed(self, seconds: float) -> None:
        t_end = time.perf_counter() + seconds
        cycles = 0
        while cycles == 0 or (time.perf_counter() < t_end and cycles < MAX_CYCLES):
            files = [self._land(Tracer.off()) for _ in CYCLE]
            self.files += files
            self.pass_s.append(sum(f["latency"] for f in files))
            cycles += 1

    def check(self) -> list[str]:
        problems = []
        if self.failed:
            problems.append(f"{self.failed} lookups did not return the new versions")
        snap = read_merge_table(self.spark, self.table_path).where(~F.col("is_deleted"))
        live = {r["pub_id"]: r["filename"] for r in snap.select("pub_id", "filename").collect()}
        batch = parse_and_dedup(self.spark, os.path.join(self.incoming, "*.xml.gz"))
        want = {r["pub_id"]: r["filename"] for r in batch.select("pub_id", "filename").collect()}
        if live != want:
            problems.append(f"live snapshot differs from batch latest_version on "
                            f"{len(set(live.items()) ^ set(want.items()))} entries")
        truth = {p: f for p, (f, d) in self.corpus.truth_after(self.landed).items() if not d}
        if want != truth:
            problems.append("batch latest_version differs from ground truth")
        self.winners = len(live)
        return problems

    def end_to_end(self) -> dict[str, float]:
        latency = sum(f["latency"] for f in self.files)
        snapshot_bytes = sum(os.path.getsize(f) for f in self.table.files())
        return {
            "citations_per_s": sum(f["citations"] for f in self.files) / latency,
            "update_p50_s": statistics.median(f["latency"] for f in self.files),
            "out_bytes_per_citation": snapshot_bytes / self.winners,
        }

    # -- traced pass -------------------------------------------------------

    def traced(self, tracer: Tracer) -> float:
        """One more cycle of files with spans around parse, merge and lookup."""
        self.traced_files = [self._land(tracer) for _ in CYCLE]
        return sum(f["latency"] for f in self.traced_files)

    def per_layer(self, tracer: Tracer, attrib: dict[int, dict]) -> dict[str, float]:
        # the traced files were the last micro-batches
        n_traced = len(self.traced_files)
        pairs = list(zip(self.batch_s[-n_traced:], self.traced_files))
        regular = [b for b, f in pairs if f["citations"] >= REGULAR]
        tiny = [b for b, f in pairs if f["citations"] < REGULAR]
        merges = tracer.named("updates.merge")[-n_traced:]
        files = self.traced_files
        return {
            "io.parse_s": statistics.median(
                s["end"] - s["start"] for s in tracer.named("io.parse")[-n_traced:]),
            "updates.batch_s": statistics.median(regular),
            "updates.fixed_s": statistics.median(tiny),
            "updates.jobs": statistics.median(attrib[s["id"]]["jobs"] for s in merges),
            "manifest.buckets_touched": statistics.median(f["buckets"] for f in files),
            "manifest.rewrite_bytes_per_citation":
                sum(f["rewrite_bytes"] for f in files) / sum(f["citations"] for f in files),
            "manifest.lookup_s": statistics.median(
                s["end"] - s["start"] for s in tracer.named("manifest.lookup")[-n_traced:]),
        }
