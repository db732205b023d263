"""Smoke test of the benchmark harness; run from the root of a checkout:

    python3 perfbench/selftest.py

Runs every workload in BENCHMARK.json untraced and traced on tiny
inputs (sf0.001 tables, 24-document batches, one second of
measurement) and fails unless each run:

- emits every metric BENCHMARK.json names for its mode, with that unit;
- completes every operation with correct output (ok_frac 1.0);
- for doc_etl, calls the LLM port exactly once per listed document;
- for every traced operation, has build and exec spans nested in order
  inside the operation's span, leaving under 100 ms unattributed, and
  Spark job time inside the operation's span.
"""

from __future__ import annotations

import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _expect(ok: bool, what: str) -> None:
    if not ok:
        raise AssertionError(what)


def _check_op(spans: list[dict], op: dict, tag: str) -> None:
    """The op's build and exec spans nest in its op span, in order and
    without overlap, and account for all but a sliver of its wall time;
    its Spark jobs ran inside the op span."""
    (top,) = [s for s in spans if s["name"] == "op" and s["op"] == op["op"]]
    kids = [s for s in spans if s["parent"] == top["id"]]
    _expect([s["name"] for s in kids] == ["build", "exec"], f"{tag}: children {[s['name'] for s in kids]}")
    build, exec_ = kids
    _expect(
        top["start"] <= build["start"] <= build["end"] <= exec_["start"] <= exec_["end"] <= top["end"],
        f"{tag}: build/exec spans not nested in order",
    )
    _expect(abs(op["build_s"] - (build["end"] - build["start"])) < 1e-9, f"{tag}: build_s")
    _expect(abs(op["exec_s"] - (exec_["end"] - exec_["start"])) < 1e-9, f"{tag}: exec_s")
    _expect(0 <= op["unattributed_s"] < 0.1, f"{tag}: unattributed_s {op['unattributed_s']}")
    gap = op["spark.driver_gap_s"]
    _expect(0 <= gap <= op["wall_s"], f"{tag}: driver_gap_s {gap}")
    if op["spark.jobs"] > 0:
        _expect(gap < op["wall_s"], f"{tag}: no job time inside the op span")


def main() -> int:
    sys.path.insert(0, HERE)
    import run
    from workloads import SMOKE

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seed = 1
    for w in (x["name"] for x in bench["workloads"]):
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            result, detail = run.run_once(w, seed, 1.0, bool(trace), SMOKE)
            tag = f"{w} trace={trace}"
            _expect(result["correct"] and result["failed"] == 0, f"{tag}: failed {detail['failed_items']}")
            got = result["metrics"]
            for m in bench[section]:
                _expect(m["name"] in got, f"{tag}: {m['name']} missing")
                _expect(got[m["name"]]["unit"] == m["unit"], f"{tag}: {m['name']} unit")
                _expect(math.isfinite(got[m["name"]]["value"]), f"{tag}: {m['name']} not finite")
            _expect(set(got) == {m["name"] for m in bench[section]}, f"{tag}: unlisted metrics")
            if trace == 0:
                _expect(got["ok_frac"]["value"] == 1.0, f"{tag}: ok_frac")
            else:
                if w == "doc_etl":
                    calls = detail["layers"]["ports.transformer.calls_per_doc"]
                    _expect(calls == 1.0, f"{tag}: calls_per_doc {calls}")
                with open(os.path.join(ROOT, ".perfbench", f"trace-{w}-{seed}.json")) as fh:
                    trace_file = json.load(fh)
                for op in trace_file["cold_ops"] + trace_file["warm_ops"]:
                    _check_op(trace_file["spans"], op, f"{tag}: {op['op']}")
            print(f"selftest: {tag} ok", flush=True)
    print("selftest: all ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
