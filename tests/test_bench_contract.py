"""Contract tests for the bench artifact line.

The external harness archives only a TAIL of bench.py's stdout —
measured at exactly 2000 bytes in BENCH_r10.json (``len(tail)``), with
Spark progress-bar noise preceding the JSON line inside that capture.
Rounds 4–9 lost their per-query evidence to exactly this: the verbose
per-query maps pushed the line past the tail and the capture cut it
mid-JSON (BENCH_r09.json stores ``parsed: None``). The compact-line
format exists so that can never happen again — these tests pin it
against registry growth and careless edits:

- the line must parse as ONE self-contained JSON object;
- at worst-case value magnitudes (4-digit centiseconds everywhere —
  a 99 s query — and every n_jobs pair at the 2-digit cap) it must
  fit the measured 2000-byte tail WITH real headroom (round-10
  ADVICE: the old bound left 14 bytes of margin and called it safe);
- the per-query arrays must align 1:1 with sorted registry names,
  with ``null`` exactly where a query has no oracle (q43's uuid).

Pure-function tests (no SparkSession, no subprocess): build_artifact +
compact_line are the single source of the printed bytes.
"""

from __future__ import annotations

import json

from bench import N_JOBS_CAP, build_artifact, compact_line
from sbs_suptech_etl_v2_spark.registry import ORACLE, QUERIES

# the harness tail capture, measured from the driver's own BENCH_r10
# artifact (len(tail) == 2000); the line itself must leave room for a
# trailing newline and any same-line noise, so demand real headroom
TAIL_BYTES = 2000
MIN_HEADROOM = 100


def _artifact(per_query_sec: float, jobs: int):
    names = sorted(QUERIES)
    timings = {n: per_query_sec for n in names}
    oracle = {n: per_query_sec for n in ORACLE}
    n_jobs = {n: jobs for n in names}
    return names, build_artifact(
        names, timings, oracle, 99.999, 99.999, 0.999, 0.1, n_jobs, 0.888
    )


def test_line_fits_tail_at_worst_case_magnitudes():
    # 99 s per query = 4-digit centiseconds everywhere — far beyond
    # any observed driver box (worst real suite: ~82 s TOTAL) — and
    # every n_jobs entry at the 2-digit cap.
    # Budget note: BOTH numbers are pinned (ADVICE r13: the <= alone
    # let the last bytes under the headroom bar be nibbled silently):
    # the exact-length assert below makes ANY on-line field change —
    # grow OR shrink — a conscious update of this literal, enforcing
    # the displace-something policy rather than merely stating it.
    WORST_CASE_BYTES = 1862
    _, art = _artifact(99.0, 10_000)
    line = compact_line(art)
    assert len(line.encode()) <= TAIL_BYTES - MIN_HEADROOM, (
        f"worst-case bench line is {len(line)} bytes; the harness tail "
        f"keeps {TAIL_BYTES} and we demand {MIN_HEADROOM} headroom. "
        "Registry grew or a verbose field crept back in — trim the "
        "line or move the field to the .bench_archive/ file."
    )
    assert len(line.encode()) == WORST_CASE_BYTES, (
        f"worst-case bench line is {len(line.encode())} bytes, pinned "
        f"at {WORST_CASE_BYTES}: an on-line artifact field changed. "
        "If deliberate, update WORST_CASE_BYTES here in the same "
        "commit (and keep it <= the headroom bar above); if not, a "
        "field crept on or off the printed line silently."
    )


def test_compact_line_has_no_separator_padding():
    # default json.dumps separators waste ~270 bytes of tail budget on
    # spaces; the printed artifact must use the compact form
    _, art = _artifact(1.0, 5)
    line = compact_line(art)
    assert '", "' not in line and '": ' not in line


def test_line_roundtrips_and_aligns_with_registry():
    names, art = _artifact(1.234, 7)
    rt = json.loads(compact_line(art))
    assert rt["metric"] == "total_query_wall_clock" and rt["unit"] == "sec"
    assert len(names) == len(rt["spark_cs"])
    assert len(rt["oracle_cs"]) == len(names)
    # n_jobs: zero-padded 2-digit pairs, sorted-name order
    assert len(rt["n_jobs"]) == 2 * len(names)
    decoded = [int(rt["n_jobs"][i : i + 2]) for i in range(0, len(rt["n_jobs"]), 2)]
    assert decoded == [7] * len(names)
    # cs encoding: 1.234 s -> 123 cs
    assert set(rt["spark_cs"]) == {123}
    # null exactly at the no-oracle queries, in sorted-name order
    no_oracle = {n for n in names if n not in ORACLE}
    assert no_oracle == {"q43_notification_ids"}
    for n, o in zip(names, rt["oracle_cs"]):
        assert (o is None) == (n in no_oracle), n
    assert rt["value"] == round(1.234 * len(names), 3)
    assert rt["spark_vs_oracle_ratio"] is not None
    assert set(rt["calibration"]) == {
        "probe", "spark_sec", "duckdb_sec", "spark_job_floor_sec", "pre",
    }
    assert rt["calibration"]["spark_job_floor_sec"] == 0.999
    # r13 bracketing: pre = [job_floor] sampled before the suite; the
    # scalar key stays the post-suite sample
    assert rt["calibration"]["pre"] == [0.888]


def test_n_jobs_capped_and_fixed_width():
    names, art = _artifact(1.0, 12_345)
    assert art["n_jobs"] == f"{N_JOBS_CAP:02d}" * len(names)
    _, art = _artifact(1.0, 3)
    assert art["n_jobs"] == "03" * len(names)


def test_archive_writes_stable_named_sidecar(tmp_path):
    """VERDICT r17 directive #2: named {query: sec} maps must be
    consumable without globbing timestamps. The printed line cannot
    carry them (121 names ≈ 3.4 KB vs the 2000-byte stdout tail), so
    every archive write also lands the SAME payload at the fixed path
    .bench_archive/latest.json — pinned here: both files written, both
    parse, both carry the named per-query keys, byte-identical, and no
    temp file of the atomic write is left behind."""
    from bench import write_archive

    full = {
        "value": 1.0,
        "spark_cs": [100],
        "queries": {"q01_pricing_summary": 1.0},
        "oracle_queries": {"q01_pricing_summary": 0.5},
        "n_jobs_by_query": {"q01_pricing_summary": 3},
    }
    d = str(tmp_path / "arch")
    write_archive(full, d)
    import glob as _glob
    import os as _os

    stamped = [
        p
        for p in _glob.glob(_os.path.join(d, "bench_*.json"))
    ]
    assert len(stamped) == 1
    latest = _os.path.join(d, "latest.json")
    assert _os.path.exists(latest)
    with open(latest) as fh:
        got = json.load(fh)
    assert got["queries"] == {"q01_pricing_summary": 1.0}
    assert got["n_jobs_by_query"] == {"q01_pricing_summary": 3}
    with open(stamped[0]) as fh_a, open(latest) as fh_b:
        assert fh_a.read() == fh_b.read()
    # both files are written through a temp file + os.replace; none of
    # the temp files may survive the write
    assert sorted(_os.listdir(d)) == sorted(
        [_os.path.basename(stamped[0]), "latest.json"]
    )


def test_no_oracle_side_is_optional():
    names = sorted(QUERIES)
    art = build_artifact(
        names, {n: 0.5 for n in names}, None, None, None, None, 0.001
    )
    assert art["oracle_cs"] is None
    assert art["oracle_suite_sec"] is None
    assert art["spark_vs_oracle_ratio"] is None
    assert art["n_jobs"] is None
    assert json.loads(compact_line(art))["value"] == round(0.5 * len(names), 3)


def test_job_group_counting_measures_spark_jobs(spark):
    """The n_jobs measurement rides job groups: every job submitted
    from this thread inside ``profile.counted``'s action lands in its
    group (bench.py's run loop). Pin the mechanism — if a Spark upgrade
    changes group attribution, the bench artifact's n_jobs silently
    becomes garbage."""
    from sbs_suptech_etl_v2_spark.profile import counted

    _, a = counted(
        spark, lambda: (spark.range(10).count(), spark.range(10).count())
    )
    # a fresh group starts at zero — counts don't leak across groups
    _, b = counted(spark, lambda: spark.range(10).count())
    # jobs-per-action varies with AQE (a count can run 1 or 2 jobs),
    # so pin proportionality, not absolutes: two identical actions
    # register exactly twice one action's jobs, in their own group
    assert b >= 1, b
    assert a == 2 * b, (a, b)


def test_counted_twice_counts_each_call_once(spark):
    """Two ``counted`` calls on the same action count the same jobs:
    the status store keeps a finished group's jobs, so a second call
    under a reused group would read both calls' jobs."""
    from sbs_suptech_etl_v2_spark.profile import counted

    def action():
        return spark.range(10).count()

    _, first = counted(spark, action)
    _, second = counted(spark, action)
    assert first == second >= 1, (first, second)


def test_bench_main_subset_prints_parseable_line_with_n_jobs():
    """End-to-end smoke of the driver's actual entry path: run bench.py
    as a subprocess in quick-iteration mode (one query, oracle and
    probes skipped) and assert the printed line parses and carries a
    decodable n_jobs pair. This is the only test that exercises the
    run loop's job-group wiring the way the round harness does — a
    regression there silently voids a whole round's bench artifact.
    """
    import glob
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    before = set(glob.glob(os.path.join(repo, ".bench_archive", "*.json")))
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_SKIP_ORACLE="1",
    )
    proc = subprocess.run(
        [sys.executable, "bench.py", "q37_artifact_keys"],
        capture_output=True,
        text=True,
        timeout=420,
        env=env,
        cwd=repo,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [l for l in proc.stdout.splitlines() if l.startswith('{"metric"')]
    assert len(lines) == 1, proc.stdout[-2000:]
    art = json.loads(lines[0])
    assert art["value"] > 0
    assert len(art["spark_cs"]) == 1
    # n_jobs: one 2-digit pair, at least one job ran
    assert len(art["n_jobs"]) == 2
    assert int(art["n_jobs"]) >= 1
    # the archive file is the contractual home of the named per-query
    # maps, which are NOT on the printed line (tail budget)
    new = set(glob.glob(os.path.join(repo, ".bench_archive", "*.json"))) - before
    # one timestamped archive file per run, plus the stable-name named
    # sidecar latest.json (VERDICT r17 directive #2) — which counts in
    # `new` only on the box's first-ever run, so assert on the
    # timestamped set and on latest.json's presence separately
    stamped = {p for p in new if os.path.basename(p) != "latest.json"}
    assert len(stamped) == 1, "bench run should write exactly one timestamped archive file"
    latest = os.path.join(repo, ".bench_archive", "latest.json")
    assert os.path.exists(latest)
    with open(stamped.pop()) as fh_a, open(latest) as fh_b:
        a_txt, b_txt = fh_a.read(), fh_b.read()
    assert a_txt == b_txt, "latest.json must mirror the timestamped archive"
    full = json.loads(a_txt)
    for key in ("queries", "n_jobs_by_query"):
        assert key in full, key
