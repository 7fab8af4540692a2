"""The seeded MEDLINE generator: deterministic, seed-sensitive, and its
ground truth agrees with the batch pipeline."""

import hashlib
import os

from perfbench.gen import make_corpus


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            path = os.path.join(base, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _tiny(out, seed):
    return make_corpus(str(out), seed, 3, 40, [30, 2, 30, 5], late_at=2)


def test_same_seed_is_byte_identical(tmp_path):
    _tiny(tmp_path / "a", 7)
    _tiny(tmp_path / "b", 7)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")


def test_other_seed_differs(tmp_path):
    _tiny(tmp_path / "a", 7)
    _tiny(tmp_path / "b", 8)
    assert _digest(tmp_path / "a") != _digest(tmp_path / "b")


def test_truth_is_consistent(tmp_path):
    c = make_corpus(str(tmp_path), 3, 4, 100, [80, 80, 3], late_at=1)
    truth = c.truth
    assert truth.winners and truth.tombstoned and truth.malformed > 0
    assert not truth.tombstoned & set(truth.winners)
    assert set(truth.planted) <= set(truth.winners)
    # the late update is named before every other update
    names = [os.path.basename(p) for p in c.updates]
    assert names[1] == min(names)
    assert c.citations == sum(len(e) for e in c.entries.values())


def test_truth_matches_batch_pipeline(tmp_path, spark):
    from pyspark.sql import functions as F

    from library_beam_spark.io import read_medline_xml
    from library_beam_spark.pipelines.enrich import parse_and_dedup

    c = make_corpus(str(tmp_path), 5, 3, 60, [40, 1, 40], late_at=1)
    base = os.path.join(str(tmp_path), "baseline", "*.xml.gz")
    ups = os.path.join(str(tmp_path), "updates", "*.xml.gz")
    got = {r["pub_id"]: r["filename"]
           for r in parse_and_dedup(spark, base, ups).select("pub_id", "filename").collect()}
    assert got == c.truth.winners
    salvaged = (read_medline_xml(spark, base).unionByName(read_medline_xml(spark, ups))
                .where(~F.col("is_deleted") & F.col("title").isNull()).count())
    assert salvaged == c.truth.malformed
