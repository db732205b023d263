"""Source-scan pin: one module sets and reads Spark job groups.

Counting a block's Spark jobs takes four steps: set a fresh group, run
the block, wait for the asynchronous listener bus to drain, then read
the group's job ids. Each copy of those steps that skipped one of them
miscounted (a read before the drain misses the last jobs, and a reused
group adds up two calls), so ``profile.counted`` is the one copy. This
test fails, naming the file, when ``getJobIdsForGroup``,
``statusTracker``, ``setJobGroup`` or ``listenerBus`` appears as code
anywhere in the package, ``bench.py`` or ``tests/`` outside
``profile.py``. ``perfbench/`` keeps its own reader until it moves onto
``profile``.

The scan reads NAME tokens, so the names in comments, docstrings and
string literals (this file's own included) do not count.

Pure source scan — no SparkSession.
"""

from __future__ import annotations

import io
import pathlib
import tokenize

import sbs_suptech_etl_v2_spark as pkg

PKG_ROOT = pathlib.Path(pkg.__file__).parent
REPO = PKG_ROOT.parent

READERS = {"getJobIdsForGroup", "statusTracker", "setJobGroup", "listenerBus"}


def _readers(path: pathlib.Path) -> set[str]:
    toks = tokenize.generate_tokens(io.StringIO(path.read_text()).readline)
    return {t.string for t in toks if t.type == tokenize.NAME and t.string in READERS}


def test_only_profile_reads_job_groups():
    paths = [
        *PKG_ROOT.rglob("*.py"),
        REPO / "bench.py",
        *(REPO / "tests").rglob("*.py"),
    ]
    found = {
        str(p.relative_to(REPO)): names for p in paths if (names := _readers(p))
    }
    assert set(found) == {"sbs_suptech_etl_v2_spark/profile.py"}, (
        "job groups and the listener bus are read only through "
        f"profile.counted; found={found}"
    )
