"""Job status surface — the reference's status UI/JSON handlers as a thin
driver-side registry.

Reference: ``ListJobsHandler`` / ``GetJobDetailHandler``
(python/src/mapreduce/status.py:311-400) served job state persisted by the
controller (MapreduceState model.py:556-727). Spark already has a full UI;
this registry keeps the same *programmatic* JSON shape for tooling parity:
name, state, timing, counters, partition counts.
"""

from __future__ import annotations

import time
import uuid
from typing import Any

RUNNING = "running"
DONE = "done"
FAILED = "failed"

# Every running job plus the newest _KEEP_FINISHED finished or failed
# ones; _JOBS keeps finished records in the order they finished.
_KEEP_FINISHED = 100
_JOBS: dict[str, dict[str, Any]] = {}


def start_job(name: str, num_partitions: int | None = None) -> str:
    job_id = f"{name}-{uuid.uuid4().hex[:8]}"
    _JOBS[job_id] = {
        "job_id": job_id,
        "name": name,
        "state": RUNNING,
        "start_time": time.time(),
        "updated_time": time.time(),
        "num_partitions": num_partitions,
        "counters": {},
        "result": None,
    }
    return job_id


def _end(job_id: str, **fields: Any) -> None:
    """Record a job's end, move it to the newest end of ``_JOBS`` and drop
    the oldest ended records beyond ``_KEEP_FINISHED``."""
    job = _JOBS.pop(job_id)
    job.update(updated_time=time.time(), **fields)
    _JOBS[job_id] = job
    ended = [k for k, j in _JOBS.items() if j["state"] != RUNNING]
    for k in ended[:-_KEEP_FINISHED]:
        del _JOBS[k]


def finish_job(job_id: str, counters: dict[str, int], result: Any = None) -> None:
    _end(
        job_id,
        state=DONE,
        counters=dict(counters),
        result=repr(result)[:200] if result is not None else None,
    )


def fail_job(job_id: str, error: BaseException) -> None:
    _end(job_id, state=FAILED, error=repr(error)[:500])


def list_jobs() -> list[dict[str, Any]]:
    """≙ ListJobsHandler: newest first, summary fields only."""
    out = [
        {k: j[k] for k in ("job_id", "name", "state", "start_time", "updated_time")}
        for j in _JOBS.values()
    ]
    return sorted(out, key=lambda j: j["start_time"], reverse=True)


def get_job_detail(job_id: str) -> dict[str, Any]:
    """≙ GetJobDetailHandler: full record incl. counters."""
    return dict(_JOBS[job_id])
