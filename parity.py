"""Standalone correctness audit — the driver's protocol over ALL queries.

The driver's CORRECTNESS_r*.json snapshots have stayed at 50 entries
while the registry grew (see README "Verification status notes"), so
this script reproduces the same per-query verdict shape for the FULL
registry and writes it to CORRECTNESS_local.json: for every query, run
the Spark plan and its DuckDB oracle side by side through
``paritycheck.compare`` and record its verdict — row count, column
names, values (columns sorted by name, rows sorted, canonicalized
cells), the DESCRIBE-typed gate and the ``fetchdf()`` pandas leg (see
``paritycheck`` for why the last two exist).

Usage: python parity.py [sf_dir]   (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from sbs_suptech_etl_v2_spark.paritycheck import (
        VERDICT_FLAGS,
        compare,
        oracle_connection,
    )
    from sbs_suptech_etl_v2_spark.registry import ORACLE, QUERIES
    from sbs_suptech_etl_v2_spark.session import get_spark

    spark = get_spark(app_name="parity", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, dict] = {}
    with oracle_connection(sf_dir) as con:
        for name in sorted(QUERIES):
            entry: dict = dict.fromkeys(
                (*VERDICT_FLAGS, "spark_rows", "oracle_rows", "err")
            )
            try:
                sdf = QUERIES[name](spark, sf_dir)
                if name in ORACLE:
                    entry.update(compare(sdf, ORACLE[name], con))
                else:
                    entry["spark_rows"] = len(sdf.collect())
                    entry["err"] = "no_oracle"
            except Exception as ex:  # noqa: BLE001 — audit must cover every query
                entry["err"] = f"{type(ex).__name__}: {ex}"[:300]
            out[name] = entry

    # non-default SFs get an sf-suffixed artifact so a 10x-scale audit
    # never clobbers the driver-scale one
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    suffix = "" if sf_tag == "sf0.01" else f"_{sf_tag}"
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        f"CORRECTNESS_local{suffix}.json")
    # Provenance header: the audit trail must show WHICH source tree the
    # artifact verifies (the r06/r07 verdicts both flagged artifacts
    # that silently predated source commits).  git is absent in some
    # sandboxes, so degrade to "unknown" rather than fail the audit.
    try:
        import subprocess

        head = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or "unknown"
        dirty = bool(subprocess.run(
            ["git", "status", "--porcelain", "--",
             "sbs_suptech_etl_v2_spark", "__spark_entry__.py"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True, text=True, timeout=10,
        ).stdout.strip())
    except Exception:  # noqa: BLE001 — provenance is best-effort
        head, dirty = "unknown", False
    # Envelope shape: per-query verdicts live under "queries", the
    # provenance stamp under "meta" — a consumer iterating query
    # entries can never miscount the stamp as a query (the previous
    # top-level "_meta" pseudo-entry needed every consumer to
    # special-case it).
    envelope = {
        "meta": {
            # Artifact-shape version (round-10 ADVICE): format 1 was the
            # flat per-query dict with a "_meta" pseudo-entry; format 2
            # is this {meta, queries} envelope. Consumers should key on
            # this field, not on structural sniffing.
            "format": 2,
            "source_commit": head,
            "source_dirty": dirty,
            "generated_utc": dt.datetime.now(dt.timezone.utc).isoformat(
                timespec="seconds"
            ),
            "sf_dir": sf_dir,
        },
        "queries": out,
    }
    with open(path, "w") as fh:
        json.dump(envelope, fh, indent=2)
    n_ok = sum(all(e[k] for k in VERDICT_FLAGS) for e in out.values())
    n_no = sum(1 for e in out.values() if e["err"] == "no_oracle")
    n_bad = len(out) - n_ok - n_no
    n_typed = sum(1 for e in out.values() if e["types_match"] is False)
    n_pd = sum(1 for e in out.values() if e["pandas_match"] is False)
    print(
        f"{n_ok} fully matched, {n_no} no-oracle, {n_bad} failing "
        f"(typed-gate {n_typed}, pandas-leg {n_pd}) -> {path}"
    )
    spark.stop()
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
