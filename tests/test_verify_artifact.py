"""Artifact lockstep (r7 VERDICT #1, second half): the committed
VERIFY_r{N}.json snapshots must cover the CURRENT registry — a query
registered after the artifact was stamped turns the suite red until the
dual-SF gate is re-run and re-stamped, making a stale artifact
impossible to ship silently. This is the pytest enforcement of
``tools/verify_oracle.py --check-complete``; the logic lives in the
tool, the test just points it at the newest committed snapshots."""

import glob
import os
import re
import sys

import pytest

_ROOT = os.path.join(os.path.dirname(__file__), "..")


def _latest_round_artifacts():
    """All committed VERIFY_r{N}*.json for the HIGHEST round number N
    (earlier rounds legitimately predate newer queries)."""
    paths = glob.glob(os.path.join(_ROOT, "VERIFY_r*.json"))
    by_round: dict[int, list] = {}
    for p in paths:
        m = re.match(r"VERIFY_r(\d+)", os.path.basename(p))
        if m:
            by_round.setdefault(int(m.group(1)), []).append(p)
    if not by_round:
        return []
    return sorted(by_round[max(by_round)])


@pytest.mark.parametrize(
    "artifact",
    _latest_round_artifacts() or [None],
    ids=lambda p: os.path.basename(p) if p else "none",
)
def test_current_round_verify_artifacts_cover_registry(artifact):
    if artifact is None:
        pytest.skip("no VERIFY artifacts committed yet")
    sys.path.insert(0, _ROOT)
    from tools.verify_oracle import check_complete

    assert check_complete(artifact) == 0, (
        f"{os.path.basename(artifact)} is stale relative to the registry "
        "— re-run the dual-SF gate (tools/verify_oracle.py <sf_dir> "
        "--json <artifact>) after the last query lands"
    )


def _mini_tree(root, body=b"x = 1\n"):
    pkg = os.path.join(str(root), "library_beam_spark")
    os.makedirs(pkg, exist_ok=True)
    with open(os.path.join(pkg, "mod.py"), "wb") as fh:
        fh.write(body)
    with open(os.path.join(str(root), "__spark_entry__.py"), "wb") as fh:
        fh.write(b"entry = None\n")


def test_source_identity_hash_sensitivity(tmp_path):
    """Stamp identity (r9 VERDICT #2): the recorded hash must change on
    a 1-byte source edit AND on a path rename, so a post-stamp change —
    even a value-neutral one — cannot ship under a green artifact."""
    sys.path.insert(0, _ROOT)
    from tools.verify_oracle import source_identity_sha256

    _mini_tree(tmp_path)
    h0 = source_identity_sha256(str(tmp_path))
    assert h0 == source_identity_sha256(str(tmp_path))  # deterministic
    _mini_tree(tmp_path, body=b"x = 2\n")               # 1-byte edit
    h1 = source_identity_sha256(str(tmp_path))
    assert h1 != h0
    os.rename(
        os.path.join(str(tmp_path), "library_beam_spark", "mod.py"),
        os.path.join(str(tmp_path), "library_beam_spark", "mod2.py"),
    )
    assert source_identity_sha256(str(tmp_path)) not in (h0, h1)


def test_check_complete_enforces_identity(tmp_path):
    """check_complete must go red when the artifact's source_sha256 is
    absent or disagrees with the working tree, and green only when the
    registry coverage AND the identity both match."""
    import json

    sys.path.insert(0, _ROOT)
    import __spark_entry__ as E
    from tools.verify_oracle import check_complete, source_identity_sha256

    oracles = set(E.oracle_sql())
    queries = {
        name: {"status": "pass" if name in oracles else "rows_only"}
        for name in E.queries()
    }

    def write(path, **extra):
        with open(path, "w") as fh:
            json.dump({"queries": queries, **extra}, fh)
        return str(path)

    good_sha = source_identity_sha256(_ROOT)
    # artifacts live at repo root; check_complete hashes the artifact's
    # directory — point the synthetic ones at a copy rooted in _ROOT by
    # writing them there? No: write to tmp and mirror the tree hash by
    # rooting the artifact IN the repo root is destructive. Instead the
    # artifact dir drives the hash, so build the mini tree in tmp.
    _mini_tree(tmp_path)
    tree_sha = source_identity_sha256(str(tmp_path))
    ok = write(tmp_path / "VERIFY_ok.json", source_sha256=tree_sha)
    assert check_complete(ok) == 0
    stale = write(tmp_path / "VERIFY_stale.json", source_sha256="0" * 64)
    assert check_complete(stale) == 1
    unstamped = write(tmp_path / "VERIFY_unstamped.json")
    assert check_complete(unstamped) == 1
    assert good_sha != tree_sha  # the real tree is its own identity


def test_coverage_doc_query_names_resolve():
    """r11 VERDICT #6 (stale-doc sweep): every ``q:<name>`` reference
    in COVERAGE.md and in the library docstrings must resolve against
    the live registry — a renamed or folded query must take its doc
    pointers with it (the r7 two-level fold left q:semdedup_two_level
    dangling for four rounds)."""
    import glob as _glob

    sys.path.insert(0, _ROOT)
    import __spark_entry__ as E

    names = set(E.queries())
    sources = [os.path.join(_ROOT, "COVERAGE.md")] + _glob.glob(
        os.path.join(_ROOT, "library_beam_spark", "**", "*.py"),
        recursive=True,
    )
    dangling = {}
    for path in sources:
        with open(path, encoding="utf-8") as fh:
            refs = set(re.findall(r"q:([a-z0-9_]+)", fh.read()))
        bad = refs - names
        if bad:
            dangling[os.path.relpath(path, _ROOT)] = sorted(bad)
    assert not dangling, f"dangling q: references: {dangling}"


def test_check_complete_enforces_name_set(tmp_path):
    """r11 VERDICT #9: a hand-edited artifact must gate RED on every
    name-set defect, not just an identity mismatch — a missing query,
    a stale (no-longer-registered) query, an oracle-backed query
    demoted to rows_only, and a recorded failure each flip the gate
    even when the source hash is correct."""
    import json

    sys.path.insert(0, _ROOT)
    import __spark_entry__ as E
    from tools.verify_oracle import check_complete, source_identity_sha256

    oracles = set(E.oracle_sql())
    good = {
        name: {"status": "pass" if name in oracles else "rows_only"}
        for name in E.queries()
    }
    _mini_tree(tmp_path)
    sha = source_identity_sha256(str(tmp_path))

    def write(path, queries):
        with open(path, "w") as fh:
            json.dump({"queries": queries, "source_sha256": sha}, fh)
        return str(path)

    assert check_complete(write(tmp_path / "ok.json", good)) == 0
    some_oracle = sorted(oracles)[0]
    missing = dict(good)
    del missing[some_oracle]
    assert check_complete(write(tmp_path / "missing.json", missing)) == 1
    stale = dict(good, q_never_registered={"status": "pass"})
    assert check_complete(write(tmp_path / "stale.json", stale)) == 1
    demoted = dict(good, **{some_oracle: {"status": "rows_only"}})
    assert check_complete(write(tmp_path / "demoted.json", demoted)) == 1
    failed = dict(good, **{some_oracle: {"status": "fail"}})
    assert check_complete(write(tmp_path / "failed.json", failed)) == 1


def test_default_stamp_root_is_cwd_independent(tmp_path, monkeypatch):
    """r10 ADVICE #1: source_identity_sha256() with NO root argument
    must hash the repo tree derived from the tool's own location —
    never the process cwd — so a gate launched from any directory
    stamps the same identity --check-complete later compares."""
    from tools.verify_oracle import source_identity_sha256

    at_repo = source_identity_sha256()
    monkeypatch.chdir(tmp_path)
    assert source_identity_sha256() == at_repo
    assert source_identity_sha256() == source_identity_sha256(_ROOT)


def test_check_complete_rejects_non_stamp_report(tmp_path, capsys):
    """A round report saved under a VERIFY_r{N}.json name (pass counts
    and a test log, no per-query map) is not a stamp: the gate stays
    red and names the file once instead of listing every registered
    query as absent."""
    import json

    sys.path.insert(0, _ROOT)
    from tools.verify_oracle import check_complete

    report = {
        "compile_ok": True,
        "tests_ok": True,
        "entry_ok": True,
        "n_queries": 50,
        "n_correct": 50,
        "test_tail": "..... [100%]\n",
    }
    path = tmp_path / "VERIFY_r99.json"
    path.write_text(json.dumps(report))
    assert check_complete(str(path)) == 1
    out = capsys.readouterr().out
    assert out.startswith("NOT-A-STAMP: ")
    assert "INCOMPLETE" not in out
