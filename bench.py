"""Benchmark runner — driver contract.

Runs every registered query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line with the headline totals, two fixed-work CALIBRATION probes, and
compact per-query spark/oracle centisecond arrays.

Output-size contract (round-10): the external harness archives only a
~2 KB TAIL of stdout, which since round 4 truncated the verbose
per-query maps mid-line and left the artifact unparseable — and left
round 9's ~1.8× oracle-side environment drift undetectable per query.
The printed line is therefore kept UNDER 2 KB and self-contained:

- ``spark_cs`` / ``oracle_cs``: per-query medians in centiseconds,
  ordered by sorted query name (``null`` where a query has no oracle);
  the named full-precision maps go to ``.bench_archive/``.
- ``n_jobs``: Spark job count per query, packed as zero-padded
  2-digit pairs in the same sorted-name order (capped at 99; the
  uncapped named map rides the archive file) — with the per-job
  scheduling floor in ``calibration``, this makes per-query
  floor-normalized ratios computable from the artifact alone:
  ``(spark_cs/100 - n_jobs*job_floor/2) / (oracle_cs/100)``. (The
  pre-r12 form ``n_jobs*floor`` over-subtracted ≈2×: executed stages
  ≡ jobs under AQE and the floor probe is itself a 2-job action, so
  the honest per-job fixed cost is job_floor/2 — SCALING.md, round-12
  floor-model correction.)
- per-query EXECUTED-STAGE counts (``n_stages_by_query``) ride the
  archive file (2-digit pairs on the line would blow the tail
  budget); the line carries the per-stage floor
  (``spark_stage_floor_sec``) so a reader can tighten the job-floor
  normalization to the two-axis form ``n_jobs·J + n_stages·S`` with
  S = stage_floor and J = job_floor/2 − stage_floor — see
  _job_latency for the probe algebra.
- ``calibration``: the SAME fixed-work probe (an integer-fold
  aggregation over ``range(4e8)``, no IO, no data dependence) timed on
  both engines — any cross-run comparison should first normalize by
  these, making host-load drift visible instead of poisoning
  per-query deltas. The two floors are BRACKETED (round-13, VERDICT
  r12 directive #2): ``pre`` = [job_floor, stage_floor] sampled
  immediately after warmup, before the suite; the scalar keys keep
  the original post-suite sampling point (cross-round comparable
  since r10). The pair turns any floor-normalized ratio into an
  interval and makes intra-session floor drift (observed 0.051→0.072
  within one r12 session) adjudicable from a single artifact.

Methodology (BASELINE.md): per-query wall clock is the MEDIAN OF 3
materializations (noop sink — forces the whole plan, no driver
collect); a dedicated warmup phase first spins the JVM, parquet
footers, codegen, and a Python worker pool so q01 doesn't absorb
startup and the first mapInPandas query doesn't absorb worker fork.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import tempfile
import time

RUNS = 3
# Fixed-work calibration size: an integer aggregation over range(N) —
# pure compute, zero IO, zero data dependence. Both engines run the
# IDENTICAL job every round, so the pair of probe times is a direct
# read of the box's throughput for each engine during THIS run.
CALIBRATION_N = 400_000_000
CALIBRATION_EXPR = "sum(id*2654435761%97)"


def _calibrate_spark(spark) -> float:
    ts = []
    for _ in range(RUNS):
        t0 = time.perf_counter()
        spark.range(CALIBRATION_N).selectExpr(CALIBRATION_EXPR).collect()
        ts.append(time.perf_counter() - t0)
    return round(statistics.median(ts), 3)


def _job_latency(spark) -> tuple[float, float]:
    """(job_floor, stage_floor): the box's per-job and per-stage
    SCHEDULING floors, the second calibration axis.

    ``job_floor`` is the median wall clock of a 1-row, TWO-stage job
    (``range(1).count()`` — partial agg + exchange + final), unchanged
    since round 10 so it stays comparable across archived rounds. The
    fixed-work probe above reads compute throughput; this one reads
    the fixed cost every Spark job pays regardless of data. Measured
    because it varies 30× across hosts for identical code: the
    round-10 quiet-box investigation found ``range(1).count()`` takes
    ~0.15 s in this sandbox (bare session, any core count — an
    environment property, virtualized scheduler/clock) where the
    round-9 driver box ran entire 3-stage queries in 0.02 s. A query
    whose driver-box time is ≤ a few × this floor is FLOOR-DOMINATED
    on the slow box and its wall-clock cannot be compared across
    boxes except through this number.

    ``stage_floor`` separates the per-stage component (round-11
    verdict #2: ``n_jobs × job_floor`` under-counts multi-stage fixed
    cost because AQE materializes a stage per exchange). Probe shapes,
    measured (tracker-verified) on this Spark:

    - t1 = ``range(1).collect()``: 1 job, 1 executed stage  → J + S
    - t2 = ``range(1).count()`` under AQE: the exchange materializes
      as its own job, so 2 jobs, 2 executed stages → 2J + 2S (NOT the
      1-job/2-stage shape the pre-r12 docstring assumed — t1 and t2
      are collinear and cannot separate J from S by themselves)
    - t3 = ``range(1).count()`` with AQE off: 1 job, 2 stages → J + 2S

    so S = t3 − t1 and J = 2·t1 − t3. Only t2 (the cross-round
    comparable since r10) and S are printed; a reader recovers
    J = job_floor/2 − stage_floor (t2 = 2(J+S)) and a query's fixed
    scheduling cost as ``n_jobs·J + n_stages·S`` (n_stages from the
    archived per-query map). The three probes interleave so all
    medians see the same box state; S clamps to [0, t2/2] against
    noise — t2 and t3 are sampled moments apart, and an S above
    job_floor/2 would imply a NEGATIVE per-job cost J (the r12
    small-SF promoted records hit exactly that: job 0.072 with stage
    0.047 → J = −11 ms; ADVICE r12). The AQE toggle is scoped to the
    t3 sample and restored immediately — nothing else is planning
    while the probes run (after warmup for the ``pre`` sample, after
    the oracle suite for the scalar one).
    """
    t1s, t2s, t3s = [], [], []
    aqe_key = "spark.sql.adaptive.enabled"
    aqe_orig = spark.conf.get(aqe_key)
    for _ in range(7):
        t0 = time.perf_counter()
        spark.range(1).collect()
        t1s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        spark.range(1).count()
        t2s.append(time.perf_counter() - t0)
        spark.conf.set(aqe_key, "false")
        try:
            t0 = time.perf_counter()
            spark.range(1).count()
            t3s.append(time.perf_counter() - t0)
        finally:
            spark.conf.set(aqe_key, aqe_orig)
    t1 = statistics.median(t1s)
    t2 = statistics.median(t2s)
    t3 = statistics.median(t3s)
    # clamp against the ROUNDED job floor and truncate (not round) S:
    # the invariant S ≤ job_floor/2 must hold on the PUBLISHED 3-dp
    # values — round-nearest let S land 0.5 ms above job_floor/2
    # (observed: job 0.069 with S 0.035), re-encoding a negative J at
    # millisecond scale. Truncation biases S down ≤1 ms, inside probe
    # noise.
    jf = round(t2, 3)
    s = max(0.0, min(t3 - t1, jf / 2))
    return jf, math.floor(s * 1000) / 1000


def _calibrate_duckdb(con) -> float:
    ts = []
    sql = (
        f"SELECT {CALIBRATION_EXPR.replace('id', 'range')} "
        f"FROM range({CALIBRATION_N})"
    )
    for _ in range(RUNS):
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        ts.append(time.perf_counter() - t0)
    return round(statistics.median(ts), 3)


def _settled_group_count(tracker, group: str) -> int:
    """Job count for a group, read AFTER the status store settles.

    Actions return when the JobWaiter completes, but the
    AppStatusStore behind ``getJobIdsForGroup`` is fed by the ASYNC
    listener bus — immediately after a heavy query the last JobStart
    may still be queued, silently undercounting the group (and with
    it every floor-normalized ratio derived from n_jobs). Poll until
    two consecutive reads agree; in the common settled case this
    costs one extra read."""
    n = len(tracker.getJobIdsForGroup(group))
    for _ in range(50):
        time.sleep(0.01)
        m = len(tracker.getJobIdsForGroup(group))
        if m == n:
            return m
        n = m
    return n


def _group_stage_count(tracker, group: str) -> int:
    """EXECUTED stages across a group's jobs, distinct by stage id.

    ``SparkJobInfo.stageIds`` lists every stage in the job DAG,
    including ones the scheduler skips via shuffle reuse; a skipped
    stage pays no scheduling, so counting it would overstate the fixed
    cost this number exists to model (``n_stages × stage_floor``, the
    per-stage leg of the two-axis floor normalization — see
    _job_latency). A stage the status store has no record of (never
    submitted) or that attempted zero tasks is therefore excluded.
    Call AFTER _settled_group_count so the async listener bus has
    drained for this group's jobs."""
    sids: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is not None:
            sids.update(info.stageIds)
    n = 0
    for sid in sids:
        si = tracker.getStageInfo(sid)
        if si is not None and (
            si.numCompletedTasks + si.numFailedTasks + si.numActiveTasks
        ) > 0:
            n += 1
    return n


def _materialize(df) -> None:
    try:
        df.write.format("noop").mode("overwrite").save()
    except Exception:
        df.count()


def _warmup(spark, sf_dir: str) -> None:
    from pyspark.sql import functions as F

    # JVM + shuffle + codegen + parquet footers
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    _materialize(li.groupBy("l_returnflag").agg(F.count(F.lit(1))))
    # Python worker pool (mapInPandas queries otherwise pay fork cost
    # once) — the kernels import numpy/pandas/hashlib, so warm those
    # imports in every pooled worker too: with reuse=true the import
    # cost otherwise lands in the first vectorized query's first run
    # (32 workers × ~0.3 s, enough to poison a median of 3)
    def _warm_kernel(batches):
        import hashlib  # noqa: F401

        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from batches

    _materialize(
        spark.range(1000, numPartitions=int(spark.sparkContext.defaultParallelism))
        .withColumnRenamed("id", "x")
        .mapInPandas(_warm_kernel, "x long")
    )


# n_jobs clamp: 2 digits keeps the worst-case printed line inside the
# harness's 2000-byte stdout tail. Lossless in practice — the heaviest
# registry query runs ~40 jobs; >=99 jobs x the ~0.08 s floor would be
# an 8 s fixed cost no registry query is anywhere near.
N_JOBS_CAP = 99


def build_artifact(
    names: list[str],
    timings: dict[str, float],
    oracle_timings: dict[str, float] | None,
    spark_probe: float | None,
    duck_probe: float | None,
    job_floor: float | None,
    sf_num,
    n_jobs: dict[str, int] | None = None,
    stage_floor: float | None = None,
    floors_pre: tuple[float, float] | None = None,
) -> dict:
    """The ONE printed JSON line, as a dict — kept pure so
    tests/test_bench_contract.py can pin the output contract (parses,
    self-contained, fits the 2000-byte stdout-tail) against registry
    growth. Serialize with ``compact_line`` — default json.dumps
    separators waste ~270 bytes of the tail budget on spaces."""
    oracle_total = (
        round(sum(oracle_timings.values()), 3) if oracle_timings else None
    )
    total = round(sum(timings.values()), 3)
    return {
        "metric": "total_query_wall_clock",
        "unit": "sec",
        "sf": sf_num,
        # per-query n_stages pairs would cost ~256 bytes the 2 KB
        # stdout-tail budget doesn't have (worst-case line is pinned
        # ≤1900 by tests/test_bench_contract.py); the named map rides
        # the archive file — stage counts are plan properties, stable
        # across boxes, so a cross-box reader pairs them with THIS
        # line's floors.
        # the note dropped its "n_stages+" prefix in r13 to pay for
        # the bracketed "pre" floors — the archive pointer still says
        # where the named maps (n_stages included) live
        # named {query: sec} maps cannot ride the line (121 names
        # ≈ 3.4 KB vs the 2000-byte stdout-tail budget — measured from
        # the driver's own BENCH_r*.json captures, tail_len exactly
        # 2000 every round); the STABLE sidecar
        # .bench_archive/latest.json carries them instead (VERDICT r17
        # directive #2) — inside the directory this note points at
        "note": (
            f"name-sorted;cs=centisec med{RUNS};null=no oracle;"
            f"n_jobs 2digit cap{N_JOBS_CAP};maps .bench_archive/"
        ),
        "spark_cs": [int(round(timings[n] * 100)) for n in names],
        # Spark job count per query (median across rounds), packed as
        # zero-padded 2-digit pairs in the same sorted-name order (a
        # JSON int array costs ~120 more tail bytes) — per-query
        # floor-normalized cross-box ratios are
        # (spark_cs/100 - n_jobs*job_floor/2) / (oracle_cs/100)
        # (job_floor/2, NOT job_floor: the probe is a 2-job action and
        # stages ≡ jobs under AQE — r12 floor-model correction)
        "n_jobs": (
            "".join(f"{min(n_jobs[n], N_JOBS_CAP):02d}" for n in names)
            if n_jobs
            else None
        ),
        "oracle_cs": (
            [
                (
                    int(round(oracle_timings[n] * 100))
                    if n in oracle_timings
                    else None
                )
                for n in names
            ]
            if oracle_timings
            else None
        ),
        # fixed-work probes: normalize any cross-run per-query
        # comparison by these before calling something a regression
        "calibration": {
            # derived from the constants so the label can never
            # desynchronize from the actual workload across rounds.
            # NOTE: records promoted before round 12 carry the older
            # hand-written spelling 'range(4e8)' where this derived
            # form prints 'range(4e+08)' — any cross-round probe
            # comparison must match on the CONSTANTS, not the label
            # string (the spellings converge as new runs are promoted)
            "probe": f"{CALIBRATION_EXPR} over range({CALIBRATION_N:.0e})",
            "spark_sec": spark_probe,
            "duckdb_sec": duck_probe,
            # two-axis scheduling floor (see _job_latency): job_floor
            # is the AQE range(1).count() probe (2 jobs + 2 stages,
            # cross-round comparable since r10), stage_floor the
            # marginal per-stage cost S. A query's fixed cost is
            # n_jobs·J + n_stages·S with J = job_floor/2 −
            # stage_floor; n_stages rides the archived named map.
            "spark_job_floor_sec": job_floor,
            "spark_stage_floor_sec": stage_floor,
            # r13 bracketing (VERDICT r12 #2): the SAME two floors
            # sampled immediately after warmup, BEFORE the suite —
            # pre = [job_floor, stage_floor]. The scalar keys above
            # keep the original post-suite sampling point (the
            # cross-round comparable since r10); pre/post together
            # bound the intra-session floor drift so a normalized
            # suite ratio reads as an interval, not a point.
            "pre": (
                [floors_pre[0], floors_pre[1]] if floors_pre else None
            ),
        },
        "oracle_suite_sec": oracle_total,
        "spark_vs_oracle_ratio": (
            round(total / oracle_total, 3) if oracle_total else None
        ),
        "value": total,
    }


def write_archive(full: dict, archive_dir: str) -> None:
    """Write the FULL verbose artifact (named per-query maps) to the
    untracked archive: one timestamped file per run, PLUS the
    STABLE-NAME sidecar ``latest.json`` (VERDICT r17 directive #2).

    The printed line cannot carry named per-query maps (121 names
    ≈ 3.4 KB vs the 2000-byte stdout-tail budget), so any consumer
    that needs ``queries`` ({name: sec}) / ``n_jobs_by_query`` keyed
    by NAME — the driver's PERF attribution, the judge's per-query
    comparison — reads the fixed sidecar path instead of globbing
    timestamps. Overwritten by every run; additions-only vs the
    printed contract (value/spark_cs/oracle_cs/n_jobs unchanged).
    Untracked like the rest of the archive — bench must never write a
    git-tracked file (the round-5 clobber lesson)."""
    os.makedirs(archive_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    payload = json.dumps(full) + "\n"
    # each file lands whole or not at all: a reader of latest.json
    # never sees a half-written payload from a run still in flight
    for fname in (f"bench_{stamp}.json", "latest.json"):
        fd, tmp = tempfile.mkstemp(dir=archive_dir, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as fh:
                fh.write(payload)
            os.replace(tmp, os.path.join(archive_dir, fname))
        except BaseException:
            os.unlink(tmp)
            raise


def compact_line(artifact: dict) -> str:
    """Serialize the printed artifact with compact separators — the
    ONLY sanctioned serialization for stdout (the tail budget is pinned
    by tests/test_bench_contract.py against this function)."""
    return json.dumps(artifact, separators=(",", ":"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Pin the driver heap for benchmark runs: session.py otherwise
    # derives it from MemAvailable at launch, so timings/GC behavior
    # would silently vary with ambient host memory pressure and poison
    # run-to-run comparability. Same clamp policy as the session
    # (single source: session.driver_mem_from), but derived from
    # MemTotal — stable across runs on a given box. An explicit env
    # wins.
    if "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
        from sbs_suptech_etl_v2_spark.session import driver_mem_from

        pinned = driver_mem_from("MemTotal")
        if pinned:
            os.environ["SPARK_GRAFT_DRIVER_MEM"] = pinned

    from sbs_suptech_etl_v2_spark.registry import QUERIES
    from sbs_suptech_etl_v2_spark.session import get_spark

    spark = get_spark(app_name="bench", master=f"local[{cpus}]")
    _warmup(spark, sf_dir)

    # optional positional args: only bench the named queries (local
    # iteration aid; the driver invokes with no args -> full run)
    only = set(sys.argv[1:])
    names = [n for n in sorted(QUERIES) if not only or n in only]

    # PRE floor sample (r13 bracketing): same probe as the post-suite
    # one, run on the warmed session before any query — with the post
    # sample it brackets the box's intra-session floor drift, the
    # quantity that made the r11→r12 ratio drift adjudicable only by
    # cross-referencing three artifacts. Full runs only (the subset
    # path is quick-iteration and skips all probes). Runs under its
    # own job group like the post-suite probes (ADVICE r13: ungrouped
    # probe jobs misattribute in the UI and any group-keyed reader);
    # the per-query loop below overwrites the group, so nothing to
    # clear here.
    if not only:
        spark.sparkContext.setJobGroup(
            "bench:calibration-pre", "pre-suite calibration probes"
        )
        floors_pre = _job_latency(spark)
    else:
        floors_pre = None

    # INTERLEAVED rounds: run the whole suite RUNS times and take the
    # per-query median ACROSS rounds, rather than back-to-back repeats.
    # Same work, same median-of-3 methodology (BASELINE.md), but a
    # multi-second machine-noise episode (observed: a 0.8 s cube query
    # reading 13 s for all 3 consecutive runs) now lands in at most one
    # of a query's samples instead of all of them.
    import gc

    samples: dict[str, list[float]] = {n: [] for n in names}
    # Per-query Spark job counts, via job groups: everything the query
    # does — builder-time actions (e.g. the dedup fixpoint's per-round
    # eager checkpoints) AND the noop materialization — runs on this
    # thread between setJobGroup and the read, so the count is exactly
    # the jobs a driver box pays the per-job scheduling floor for.
    # Counts are plan properties (stable across rounds modulo AQE);
    # median-of-rounds smooths the rare AQE wobble.
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    job_samples: dict[str, list[int]] = {n: [] for n in names}
    stage_samples: dict[str, list[int]] = {n: [] for n in names}
    for rnd in range(RUNS):
        for name in names:
            group = f"bench:{name}:{rnd}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            _materialize(QUERIES[name](spark, sf_dir))
            samples[name].append(time.perf_counter() - t0)
            job_samples[name].append(_settled_group_count(tracker, group))
            stage_samples[name].append(_group_stage_count(tracker, group))
            # drop the Python-side refs so Spark's ContextCleaner can
            # reclaim this query's localCheckpoint blocks — without the
            # nudge, dozens of checkpointed frames accumulate across the
            # suite and later queries pay BlockManager spill churn
            gc.collect()
    # the calibration probes below must not inherit the last query's
    # group/description attribution (cosmetic, but it made the UI and
    # any group-keyed reader misattribute the probe jobs) — run them
    # under their own group; ALL job-group properties are cleared
    # together after the probes
    sc.setJobGroup("bench:calibration", "calibration probes")
    timings = {n: round(statistics.median(s), 3) for n, s in samples.items()}
    n_jobs = {
        n: int(statistics.median(s)) for n, s in job_samples.items()
    }
    n_stages = {
        n: int(statistics.median(s)) for n, s in stage_samples.items()
    }

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_num: float | str = float(sf)
    except ValueError:
        sf_num = sf
    # PAIRED DENOMINATOR: absolute wall clock on this host swings up to
    # ±35% for identical code (host-level noise; guest idle, steal 0),
    # so a Spark total alone is not interpretable. Run the DuckDB
    # oracle suite in the same process, same box state, right after the
    # Spark runs — the Spark/oracle ratio from a paired run is robust
    # where either absolute number is not. Skippable for quick local
    # iteration via SPARK_GRAFT_SKIP_ORACLE=1 or when benching a subset.
    # Calibration probes only run on FULL suites: a named-subset
    # invocation is the quick-iteration path and must not pay 3×
    # range(4e8) aggregations plus the 7-job latency probe for a
    # sub-second query (the probes are only meaningful on archived
    # full runs anyway).
    spark_probe = _calibrate_spark(spark) if not only else None

    oracle_timings = None
    duck_probe = None
    if not only and not os.environ.get("SPARK_GRAFT_SKIP_ORACLE"):
        try:
            from sbs_suptech_etl_v2_spark.paritycheck import oracle_connection
            from sbs_suptech_etl_v2_spark.registry import ORACLE

            con = oracle_connection(sf_dir)
            con.execute(f"SET threads TO {os.cpu_count() or 32}")
            onames = sorted(ORACLE)
            for name in onames:  # warmup pass (page cache, planning)
                con.execute(ORACLE[name]).fetchall()
            osamples: dict[str, list[float]] = {n: [] for n in onames}
            for _ in range(RUNS):
                for name in onames:
                    t0 = time.perf_counter()
                    con.execute(ORACLE[name]).fetchall()
                    osamples[name].append(time.perf_counter() - t0)
            oracle_timings = {
                n: round(statistics.median(s), 3) for n, s in osamples.items()
            }
        except Exception:  # noqa: BLE001 — the pairing is best-effort
            oracle_timings = None
        else:
            # The probe runs in its OWN try: a late failure here (e.g.
            # memory pressure on the 400M-row fold after a long run)
            # must not discard the oracle suite the run just spent
            # minutes computing — duck_probe is best-effort-null.
            try:
                duck_probe = _calibrate_duckdb(con)
            except Exception:  # noqa: BLE001
                duck_probe = None

    # The scalar job/stage-floor probe keeps its ORIGINAL sampling
    # point — after the oracle suite, at artifact-build time — so its
    # box-state context matches every archived artifact it will be
    # compared against (hoisting it above the oracle run would put a
    # systematic offset in exactly the number used as the cross-run
    # denominator). The pre-suite sample taken above rides the
    # calibration "pre" key instead.
    job_floor, stage_floor = (
        _job_latency(spark) if not only else (None, None)
    )
    # clear every job-group property the run set (group id AND the
    # description/interruptOnCancel that setJobGroup sets alongside it
    # — leaving those dangling misattributed any later jobs)
    for prop in (
        "spark.jobGroup.id",
        "spark.job.description",
        "spark.job.interruptOnCancel",
    ):
        sc.setLocalProperty(prop, None)

    # The printed artifact must survive a ~2 KB stdout-tail capture
    # (see module docstring): ONE compact self-contained JSON line —
    # headline totals, both calibration probes, and per-query medians
    # as centisecond arrays in sorted-name order. The named
    # full-precision maps ride the archive file below instead.
    out = build_artifact(
        names, timings, oracle_timings, spark_probe, duck_probe,
        job_floor, sf_num, n_jobs, stage_floor, floors_pre,
    )
    line = compact_line(out)
    print(line)
    # archive the FULL verbose JSON (named per-query maps) to an
    # UNTRACKED path (timestamped) — writing to a git-tracked file here
    # let the driver's own bench run clobber the repo's committed
    # record (round-5 verdict #3).
    full = dict(out)
    full["queries"] = timings
    full["oracle_queries"] = oracle_timings
    full["n_jobs_by_query"] = n_jobs  # named + uncapped
    # executed-stage counts (plan properties, stable across boxes):
    # too wide for the printed line's tail budget, so they live
    # here — pair with the printed line's job/stage floors for
    # two-axis normalization
    full["n_stages_by_query"] = n_stages
    # bracketed floors under their full names too (the line's compact
    # "pre" array is a tail-budget concession; the archive isn't)
    if floors_pre:
        full["spark_job_floor_sec_pre"] = floors_pre[0]
        full["spark_stage_floor_sec_pre"] = floors_pre[1]
    try:
        archive_dir = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), ".bench_archive"
        )
        write_archive(full, archive_dir)
    except OSError:
        pass
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
