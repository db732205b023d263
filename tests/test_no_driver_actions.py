"""Source-scan pin: no driver-side data paths in the package.

The standing scale claim (SCALING.md "Global invariants") is that no
operator ever pulls data to the driver: no operator runs a driver
action at all. Even the dedup fixpoint, an iterative algorithm that
must observe convergence, reads its per-round sums from
``DataFrame.observe`` metrics delivered by the eager checkpoint that
materializes the round, not from a probe action. This test pins the
claim: a `.collect(`/`.toPandas(`/`.first(`/`.toLocalIterator(`/
`.show(` call or an `.rdd` attribute appearing anywhere in the package
outside two non-operator sites fails the suite and names the file.
`.rdd` counts because converting a frame to an RDD plans it and, under
AQE, executes every upstream query stage (`df.rdd.getNumPartitions()`
is a hidden job, not a metadata read). The two sites are the CLI's
print sink (a row ITERATOR, bounded by construction — the one
toLocalIterator) and the oracle harness in paritycheck.py, which no
query path calls (the one collect). Streaming/sink modules go through
foreachBatch and executor-side writers, so they are covered by the
same rule.

The scan tokenizes each file and drops COMMENT and STRING tokens
before matching, so a marker inside a comment or docstring doesn't
false-positive AND a '#' inside a string literal can't truncate a
line and hide a real call after it (naive `line.split('#')[0]`
stripping had exactly that false-negative hole).

Pure source scan — no SparkSession.
"""

from __future__ import annotations

import io
import pathlib
import tokenize

import sbs_suptech_etl_v2_spark as pkg

PKG_ROOT = pathlib.Path(pkg.__file__).parent

# every allowed driver-action site: file (relative to the package) ->
# exact allowed occurrence count. No operator module is listed.
# __main__.py's toLocalIterator IS the CLI's print sink — the one place
# whose whole job is to stream rows to the driver's stdout, and an
# iterator (one partition in flight, never the full frame) is the
# bounded way to do it; paritycheck.py's collect is the oracle
# harness's Spark leg (compare() checks a query's whole result against
# DuckDB on the Spark driver) — no operator or query path calls it;
# nothing else is allowed.
ALLOWED = {
    "__main__.py": {".toLocalIterator(": 1},
    "paritycheck.py": {".collect(": 1},
}

# .take(/.head( are EXCLUDED: pandas/pyarrow methods of the same name
# run inside Arrow kernels (e.g. RecordBatch.take in similarity.py's
# pair scorer) — executor-side, not driver actions. The markers
# below have no in-kernel namesakes in this codebase. .show( and
# .toLocalIterator( joined in round 12 (ADVICE: the scan was weaker
# than its docstring claimed without them).
MARKERS = (".collect(", ".toPandas(", ".first(", ".toLocalIterator(", ".show(")
# attribute markers match the attribute name as a whole token, so
# `df.rdd_x` is not `df.rdd`
ATTRIBUTES = (".rdd",)

# FSTRING_* token kinds exist only on Python >= 3.12 (PEP 701);
# on older runtimes f-strings arrive as single STRING tokens
_CODE_IRRELEVANT = {
    tokenize.COMMENT,
    tokenize.STRING,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
} | {
    getattr(tokenize, k)
    for k in ("FSTRING_START", "FSTRING_MIDDLE", "FSTRING_END")
    if hasattr(tokenize, k)
}


def _code_text(path: pathlib.Path) -> str:
    """The file's code tokens joined with spaces, comments and string
    literals removed — `.collect(` survives as `. collect (`
    regardless of line breaks, but never from prose."""
    toks = tokenize.generate_tokens(io.StringIO(path.read_text()).readline)
    return " ".join(t.string for t in toks if t.type not in _CODE_IRRELEVANT)


def _counts(code: str) -> dict[str, int]:
    """Occurrences of each marker in ``_code_text`` output."""
    padded = f" {code} "
    spaced = {m: f". {m[1:-1]} (" for m in MARKERS}
    spaced.update({m: f" . {m[1:]} " for m in ATTRIBUTES})
    return {m: n for m, s in spaced.items() if (n := padded.count(s))}


def _scan() -> dict[str, dict[str, int]]:
    found: dict[str, dict[str, int]] = {}
    for path in sorted(PKG_ROOT.rglob("*.py")):
        counts = _counts(_code_text(path))
        if counts:
            found[str(path.relative_to(PKG_ROOT))] = counts
    return found


def test_only_allowed_driver_actions_in_package():
    found = _scan()
    assert found == ALLOWED, (
        "driver-action sites changed - if a new .collect()/.toPandas()/"
        f".first()/.rdd is intentional and bounded (1-row probe), add it "
        f"to ALLOWED with a justification; found={found}"
    )


def test_scanner_is_not_fooled_by_hash_in_string(tmp_path):
    """Self-check for the false-negative hole the tokenizing scan
    closes: a real call after a '#'-bearing string literal must be
    seen, and a docstring mentioning the marker must not count. The
    same holds for the `.rdd` attribute, which must also not match a
    longer name that starts with it."""
    f = tmp_path / "probe.py"
    f.write_text(
        '"""docstring mentions .collect( and df.rdd but is prose."""\n'
        "def go(df):\n"
        "    # comment mentions .collect( and .rdd too\n"
        "    x = df.filter('#').collect()\n"
        "    y = df.filter('.rdd').rdd_x\n"
        "    return x, y, df.rdd.getNumPartitions()\n"
    )
    assert _counts(_code_text(f)) == {".collect(": 1, ".rdd": 1}
