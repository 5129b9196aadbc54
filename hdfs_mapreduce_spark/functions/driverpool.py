"""Shared bounded driver-side thread pool for submitting independent
Spark actions concurrently (guide §2.6: actions are only sequential
because the driver calls them sequentially).

Why a PERSISTENT pool and not per-use threads: in py4j's pinned-thread
mode (the PySpark default) every Python thread that touches the JVM is
given a dedicated JVM connection thread, and that JVM thread is NOT
terminated when the Python thread exits — not even after an explicit
``gc.collect()`` (measured r13: +28 parked JVM threads per streaming
query execution; a full bench run accumulated thousands and the whole
session degraded ~1.6x, untouched queries included). A bounded pool of
long-lived worker threads caps the JVM-side connection count at the
pool size for the life of the process, while giving the same
concurrency.

The trade (vs ``pyspark.InheritableThread``): pool threads inherit NO
job-group/description thread-locals, so work submitted here is not
covered by the submitter's ``setJobGroup`` cancellation or UI labels.
Route only self-contained actions through it (state writes, fixture
staging) — never user-cancellable work.

``run_concurrently`` never nests (callers are top-level driver code:
foreachBatch bodies and declared-query staging), so the fixed pool size
cannot deadlock on itself; keep it that way.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor

# Created at import: a lazy check-then-set could race two first callers
# into two pools (the dedup foreachBatch body runs on a py4j callback
# thread). Construction is cheap — the executor starts its worker
# threads on the first ``submit``, not here.
_POOL = ThreadPoolExecutor(max_workers=8, thread_name_prefix="graft_driver_io")


def run_concurrently(thunks: Iterable[Callable[[], object]]) -> None:
    """Run the callables on the shared pool, wait for ALL to finish, and
    re-raise the first failure (after every thunk has completed, so no
    write is left silently in flight)."""
    futures = [_POOL.submit(t) for t in thunks]
    errs: list[BaseException] = []
    for f in futures:
        try:
            f.result()
        except BaseException as exc:
            errs.append(exc)
    if errs:
        raise errs[0]
