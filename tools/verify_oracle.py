"""Local replica of the driver's correctness gate.

Runs every registry query on Spark at a given SF and its oracle on DuckDB
over the same parquet files; compares row count, column names/dtypes, and
order-insensitive values. Run:

    python tools/verify_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif s.dtype == object:
            df[c] = s.map(lambda v: str(v) if v is not None and v == v else None)
        elif pd.api.types.is_integer_dtype(s) or pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("float64") if s.isna().any() else s.astype("int64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    sc, dc = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if sc != dc:
        problems.append(f"columns spark={sc} duck={dc}")
        return problems
    if problems:
        return problems
    a, b = _canon(spark_pdf), _canon(duck_pdf)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            ok = np.allclose(
                av.astype(float).fillna(np.nan),
                bv.astype(float).fillna(np.nan),
                rtol=0,
                atol=1e-9,
                equal_nan=True,
            )
            exact = av.astype(float).fillna(-1.5).equals(bv.astype(float).fillna(-1.5))
            if not ok:
                bad = np.nonzero(
                    ~np.isclose(
                        av.astype(float).to_numpy(),
                        bv.astype(float).to_numpy(),
                        rtol=0,
                        atol=1e-9,
                        equal_nan=True,
                    )
                )[0][:3]
                problems.append(
                    f"col {c} float mismatch rows {bad}: {[(av.iloc[i], bv.iloc[i]) for i in bad]}"
                )
            elif not exact:
                problems.append(f"col {c} WARNING inexact-float (within 1e-9 but not bit-equal)")
        else:
            if not av.equals(bv):
                neq = (av != bv) & ~(av.isna() & bv.isna())
                idx = neq.to_numpy().nonzero()[0][:3]
                problems.append(
                    f"col {c} mismatch rows {idx}: {[ (av.iloc[i], bv.iloc[i]) for i in idx ]}"
                )
    return problems


def _repo_root() -> str:
    """Repo root derived from this file's location (tools/..) — NOT the
    process cwd, so stamping and --check-complete hash the SAME tree
    regardless of where the gate is launched from (r10 ADVICE #1: a
    cwd-derived stamp from a non-root cwd disagrees with the
    artifact-dir-derived check for the identical tree)."""
    import os

    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def source_identity_sha256(root: str | None = None) -> str:
    """Content hash of every engine source the stamped gate executed:
    library_beam_spark/**/*.py + __spark_entry__.py (path-tagged, so a
    rename changes it too). Recorded in the VERIFY artifact and
    re-compared by --check-complete / tests/test_verify_artifact.py —
    ANY post-stamp source change, even a value-neutral one, goes red
    until the gate is re-run (r9 VERDICT 'what's wrong' #1: stamp
    IDENTITY, not just stamp coverage)."""
    import glob
    import hashlib
    import os

    if root is None:
        root = _repo_root()
    h = hashlib.sha256()
    paths = sorted(
        glob.glob(
            os.path.join(root, "library_beam_spark", "**", "*.py"),
            recursive=True,
        )
    )
    paths.append(os.path.join(root, "__spark_entry__.py"))
    for p in paths:
        rel = os.path.relpath(p, root).replace(os.sep, "/")
        with open(p, "rb") as fh:
            data = fh.read()
        h.update(rel.encode())
        h.update(b"\x00")
        h.update(data)
        h.update(b"\x00")
    return h.hexdigest()


def check_complete(artifact_path: str) -> int:
    """--check-complete MODE (r7 VERDICT #1: a VERIFY artifact stamped
    mid-round silently omits queries registered afterwards): fail
    unless the artifact's query set EQUALS the current registry —
    every registered query present, nothing stale left over, no
    oracle-backed query recorded as rows-only, and (r9 VERDICT #2) the
    artifact's source_sha256 matches the CURRENT engine sources. Run it
    against the committed VERIFY_r{N}.json as the round's final gate."""
    import json
    import os

    import __spark_entry__ as E

    with open(artifact_path) as fh:
        artifact = json.load(fh)
    if "queries" not in artifact:
        # Some other report saved under the stamp name: say so once
        # instead of listing every registered query as missing.
        print(
            f"NOT-A-STAMP: {artifact_path} has no per-query results "
            f"(keys: {', '.join(sorted(artifact))})"
        )
        return 1
    root = os.path.dirname(os.path.abspath(artifact_path))
    stamped_sha = artifact.get("source_sha256")
    current_sha = source_identity_sha256(root)
    recorded = set(artifact["queries"])
    registered = set(E.queries())
    oracles = set(E.oracle_sql())
    missing = sorted(registered - recorded)
    stale = sorted(recorded - registered)
    demoted = sorted(
        q
        for q in oracles & recorded
        if artifact["queries"][q].get("status") == "rows_only"
    )
    failed = sorted(
        q for q in recorded if artifact["queries"][q].get("status") == "fail"
    )
    identity_bad = stamped_sha != current_sha
    ok = not (missing or stale or demoted or failed or identity_bad)
    if identity_bad:
        if stamped_sha is None:
            print(
                f"UNSTAMPED-IDENTITY: {artifact_path} lacks source_sha256 "
                "— re-stamp with the current tool so post-stamp source "
                "changes cannot ship silently"
            )
        else:
            print(
                f"IDENTITY-MISMATCH: engine sources changed after "
                f"{artifact_path} was stamped (stamped "
                f"{stamped_sha[:12]}…, working tree {current_sha[:12]}…) "
                "— re-run the dual-SF gate"
            )
    if missing:
        print(f"INCOMPLETE: {len(missing)} registered queries absent "
              f"from {artifact_path}: {missing}")
    if stale:
        print(f"STALE: {len(stale)} recorded queries no longer "
              f"registered: {stale}")
    if demoted:
        print(f"DEMOTED: {len(demoted)} oracle-backed queries recorded "
              f"rows-only: {demoted}")
    if failed:
        print(f"FAILED: {len(failed)} queries recorded as fail: {failed}")
    if ok:
        print(
            f"COMPLETE: {artifact_path} covers all {len(registered)} "
            f"registered queries ({len(oracles)} oracle-backed), no "
            "stale/demoted/failed entries, source identity "
            f"{current_sha[:12]}… matches"
        )
    return 0 if ok else 1


def main() -> int:
    # Optional: --json OUT writes a per-query result artifact (committed
    # each round so value-level parity of newly registered oracles is on
    # record even when the driver's fixed 50-name sample misses them).
    # --check-complete ART validates a committed artifact against the
    # CURRENT registry instead of running anything (see check_complete).
    argv = list(sys.argv[1:])
    if "--check-complete" in argv:
        i = argv.index("--check-complete")
        return check_complete(argv[i + 1])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    results: dict[str, dict] = {}

    import __spark_entry__ as E
    from library_beam_spark.session import get_spark

    spark = get_spark("verify_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = E.queries(), E.oracle_sql()
    n_pass = n_fail = n_warn = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            results[name] = {"status": "fail", "error": "spark"}
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            results[name] = {"status": "rows_only", "rows": len(sdf)}
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception:
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            results[name] = {"status": "fail", "error": "duckdb"}
            n_fail += 1
            continue
        problems = compare(sdf, ddf)
        hard = [p for p in problems if "WARNING" not in p]
        if hard:
            print(f"FAIL {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            for p in problems:
                print(f"   {p}")
            results[name] = {"status": "fail", "rows": len(sdf), "problems": problems}
            n_fail += 1
        else:
            tag = "PASS"
            if problems:
                n_warn += 1
                tag = "PASS(warn)"
                for p in problems:
                    print(f"   {p}")
            print(f"{tag} {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            results[name] = {
                "status": "pass",
                "rows": len(sdf),
                "inexact_float_warn": bool(problems),
            }
            n_pass += 1
    print(f"\n{n_pass} pass / {n_fail} fail / {n_warn} inexact-float warnings")
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "pass": n_pass,
                    "fail": n_fail,
                    "inexact_float_warnings": n_warn,
                    "source_sha256": source_identity_sha256(),
                    "queries": results,
                },
                fh,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {json_out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
