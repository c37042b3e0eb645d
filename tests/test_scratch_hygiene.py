"""Pins the /tmp scratch discipline (VERDICT r7 #7 follow-through).

scratch.py scopes every per-invocation directory under ONE
process-lifetime root and exit-registers stable paths (ANN indexes,
the package zip). The round-7 cleanup removed 1,867 stale dirs; the
round-8 audit found a fresh leak class — callers appending suffixes
("_delete") to `_ivf_index_dir`'s RETURNED path, landing the suffixed
dir outside the exit-cleanup set. These tests pin both: running the
scratch-heaviest registered queries adds nothing to /tmp outside the
cleanup set, so a full verify_probe --all pass (which runs the same
registry through the same scratch API) leaves the fsmr footprint
bounded by construction.
"""

from __future__ import annotations

import os
import tempfile

from tests.conftest import SF_SMOKE

# The /tmp names the engine may legitimately leave for LONGER than one
# process: the shared warehouse (stable by design, env-overridable)
# and the generated decade fixtures.
_PERSISTENT_OK_PREFIXES = ("fsmr_warehouse", "fsmr_sf")


def _fsmr_entries() -> set[str]:
    return {
        e for e in os.listdir(tempfile.gettempdir()) if e.startswith("fsmr")
    }


def test_scratch_heavy_queries_leave_tmp_bounded(spark):
    """Every /tmp entry created by the scratch-heaviest registered
    queries (lifecycle writes, streaming sink+checkpoint, materialized
    ANN index build/delete) must be inside the process cleanup set:
    the single fsmr_scratch_ root, an exit-registered stable path, or
    a documented persistent location."""
    from fsharp_mapreduce_spark import scratch
    from fsharp_mapreduce_spark.registry import (
        QUERIES,
        load_all_query_modules,
        release_scoped_caches,
    )

    load_all_query_modules()
    before = _fsmr_entries()
    for name in (
        "q58_merge_upsert_lifecycle",
        "s20_ivf_index_delete",
        "st08_foreach_batch_sink",
    ):
        QUERIES[name].fn(spark, SF_SMOKE).collect()
    release_scoped_caches()

    new = _fsmr_entries() - before
    allowed = set()
    if scratch._SCRATCH_ROOT:
        allowed.add(os.path.basename(scratch._SCRATCH_ROOT))
    allowed |= {os.path.basename(p) for p in scratch._EXIT_PATHS}
    stray = {
        e
        for e in new
        if e not in allowed and not e.startswith(_PERSISTENT_OK_PREFIXES)
    }
    assert not stray, (
        f"scratch-heavy queries left /tmp entries outside the "
        f"exit-cleanup set: {sorted(stray)}"
    )


def test_ivf_index_suffix_paths_are_exit_registered(spark):
    """The round-8 leak class specifically: a suffixed index path must
    come back exit-registered, not assembled by string concat outside
    the cleanup set."""
    from fsharp_mapreduce_spark import scratch
    from fsharp_mapreduce_spark.functions.similarity import _ivf_index_dir

    p = _ivf_index_dir(spark, SF_SMOKE, "_hygiene_probe")
    assert p.endswith("_hygiene_probe")
    assert p in scratch._EXIT_PATHS


def test_s22_generation_dirs_safe_on_repeated_invocation(spark):
    """VERDICT r8 #7: s22's g1/g2 generation dirs are stable
    exit-registered paths (keyed by fixture + applicationId), so a
    SECOND in-process invocation overwrites still-registered paths —
    the overwrite must be safe: identical results both times (the
    stale g1 index must not accumulate a second append batch), and
    nothing new outside the cleanup set."""
    from fsharp_mapreduce_spark import scratch
    from fsharp_mapreduce_spark.registry import (
        QUERIES,
        load_all_query_modules,
        release_scoped_caches,
    )

    load_all_query_modules()
    before = _fsmr_entries()
    fn = QUERIES["s22_ivf_index_rebalance"].fn

    def run():
        rows = sorted(tuple(r) for r in fn(spark, SF_SMOKE).collect())
        release_scoped_caches()
        return rows

    first, second = run(), run()
    assert first == second, "repeat s22 invocation diverged — stale "\
        "generation state leaked into the rebuild"

    new = _fsmr_entries() - before
    allowed = set()
    if scratch._SCRATCH_ROOT:
        allowed.add(os.path.basename(scratch._SCRATCH_ROOT))
    allowed |= {os.path.basename(p) for p in scratch._EXIT_PATHS}
    stray = {
        e
        for e in new
        if e not in allowed and not e.startswith(_PERSISTENT_OK_PREFIXES)
    }
    assert not stray, f"s22 re-invocation left stray /tmp entries: {sorted(stray)}"


def test_child_jvm_leaves_tmp_clean(tmp_path):
    """A separate driver process has its OWN scratch root + atexit
    hook — after it exits, nothing of its scratch footprint may
    survive. The child runs with a PRIVATE TMPDIR so the check is
    immune to concurrent fsmr processes on the box (a shared-/tmp
    snapshot diff races against any parallel probe run)."""
    import subprocess
    import sys

    private_tmp = tmp_path / "child_tmp"
    private_tmp.mkdir()
    # q02 is the cheapest query; shipping the package zip gives the
    # child at least one exit-registered tmp entry to clean up
    child = (
        "from fsharp_mapreduce_spark.registry import QUERIES, load_all_query_modules\n"
        "from fsharp_mapreduce_spark.session import ensure_package_shipped, get_spark\n"
        "load_all_query_modules()\n"
        "spark = get_spark()\n"
        "ensure_package_shipped(spark)\n"
        f"rows = QUERIES['q02_filter_project'].fn(spark, {SF_SMOKE!r}).collect()\n"
        "assert rows\n"
    )
    subprocess.run(
        [sys.executable, "-c", child],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env={**os.environ, "TMPDIR": str(private_tmp)},
        check=True,
        timeout=600,
    )
    leftovers = [
        e
        for e in os.listdir(private_tmp)
        if e.startswith("fsmr") and not e.startswith(_PERSISTENT_OK_PREFIXES)
    ]
    assert not leftovers, f"child JVM left tmp entries: {leftovers}"
