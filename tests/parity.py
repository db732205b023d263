"""Local replica of the driver's oracle gate: a thin assert over
:func:`sbs_suptech_etl_v2_spark.paritycheck.compare`.

Kept strict — exact value equality after canonical string rendering —
so a local pass at sf0.01 implies a driver pass on the same data.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from sbs_suptech_etl_v2_spark.io import TABLES
from sbs_suptech_etl_v2_spark.paritycheck import (
    VERDICT_FLAGS,
    compare,
    oracle_connection,
)


def assert_verdict(verdict: dict, name: str = "?") -> None:
    failed = [k for k in VERDICT_FLAGS if not verdict[k]]
    assert not failed, f"{name}: {failed} failed; verdict {verdict}"


def assert_parity(spark, query_fn, sql: str, sf_dir: str, name: str = "?") -> dict:
    with oracle_connection(sf_dir) as con:
        verdict = compare(query_fn(spark, sf_dir), sql, con)
    assert_verdict(verdict, name)
    return verdict


def lake_with(base_dir: str, out_dir, name: str, rows: list, schema) -> str:
    """A test lake at ``out_dir``: every table of ``base_dir`` symlinked,
    except ``name``, which is written from ``rows`` with ``schema``."""
    out_dir.mkdir()
    for t in TABLES:
        if t != name:
            os.symlink(f"{base_dir}/{t}.parquet", str(out_dir / f"{t}.parquet"))
    pq.write_table(
        pa.Table.from_pylist(rows, schema=schema), str(out_dir / f"{name}.parquet")
    )
    return str(out_dir)
