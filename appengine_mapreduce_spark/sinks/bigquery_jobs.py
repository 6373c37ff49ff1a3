"""BigQuery load-job lifecycle driving (bundle → submit → poll → retry or
clean up).

Mirrors the reference's pipeline jobs
(java/.../bigqueryjobs/BigQueryLoadGoogleCloudStorageFilesJob.java:89-135
bundling, BigQueryLoadFileSetJob.java submit, BigQueryLoadPollJob.java:44-99
poll-with-backoff, RetryLoadOrCleanupJob.java:50-77 fatal-retry /
non-fatal-log / delete-files), SURVEY §2.9.

The orchestration logic is real and fully tested; the BigQuery service
itself is injected behind ``LoadJobService`` (the cloud API client is not
in this container, and the reference draws the same seam: its jobs talk to
an injected ``Bigquery`` stub). Wiring a real client = implementing the
three protocol methods with ``google-cloud-bigquery`` calls.

This is control-plane code: it runs on the driver and moves no data —
the data plane is ``sinks/bigquery_like.py`` writing newline-JSON shards.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any, Callable, Protocol

# Reference constants (BigQueryConstants.java:8-29)
BIGQUERY_LOAD_DATA_SIZE_LIMIT = 500 * 1024 * 1024 * 1024  # bytes per load job
MIN_TIME_BEFORE_NEXT_POLL = 10.0  # seconds
MAX_TIME_BEFORE_NEXT_POLL = 30.0
MAX_RETRIES = 5


class LoadJobService(Protocol):
    """The injected BigQuery seam (≙ the reference's Bigquery client)."""

    def file_size(self, path: str) -> int: ...

    def insert_load_job(
        self, dataset: str, table: str, files: list[str], schema: dict
    ) -> str:
        """Submit a load job; returns its job id."""
        ...

    def get_job(self, job_id: str) -> dict:
        """Poll: {"state": PENDING|RUNNING|DONE, "error_result": ... | None,
        "errors": [...] | None}. May raise (transient poll failure)."""
        ...

    def delete_files(self, files: list[str]) -> None: ...


@dataclass
class LoadJobResult:
    bundle: list[str]
    job_id: str
    state: str  # "DONE" or "FAILED"
    attempts: int
    poll_count: int
    non_fatal_errors: list[Any] = field(default_factory=list)


def bundle_files(
    files: list[str],
    sizes: Callable[[str], int],
    size_limit: int = BIGQUERY_LOAD_DATA_SIZE_LIMIT,
) -> list[list[str]]:
    """Greedy in-order bundling under the per-load byte limit
    (BigQueryLoadGoogleCloudStorageFilesJob.bundleFiles, :108-135)."""
    bundles: list[list[str]] = []
    current: list[str] = []
    current_size = 0
    for f in files:
        sz = sizes(f)
        if current and current_size + sz > size_limit:
            bundles.append(current)
            current, current_size = [], 0
        current.append(f)
        current_size += sz
    if current:
        bundles.append(current)
    return bundles


def _poll_to_completion(
    service: LoadJobService,
    job_id: str,
    sleep: Callable[[float], None],
    min_poll: float,
    max_poll: float,
) -> tuple[dict, int]:
    """Poll one job until terminal. PENDING/RUNNING → wait and re-poll with
    backoff between min_poll and max_poll; a poll that *raises* is treated
    exactly like a pending state (BigQueryLoadPollJob.java:62-66 retries
    IOException through the task queue)."""
    delay = min_poll
    polls = 0
    while True:
        polls += 1
        try:
            job = service.get_job(job_id)
        except Exception:
            job = None  # transient poll failure → retry
        if job is not None and job.get("state") not in ("PENDING", "RUNNING"):
            return job, polls
        sleep(delay)
        delay = min(delay * 2, max_poll)


def load_files_to_bigquery(
    service: LoadJobService,
    dataset: str,
    table: str,
    files: list[str],
    schema: dict,
    size_limit: int = BIGQUERY_LOAD_DATA_SIZE_LIMIT,
    max_retries: int = MAX_RETRIES,
    min_poll: float = MIN_TIME_BEFORE_NEXT_POLL,
    max_poll: float = MAX_TIME_BEFORE_NEXT_POLL,
    sleep: Callable[[float], None] = time.sleep,
    cleanup: bool = True,
) -> list[LoadJobResult]:
    """Drive the full load lifecycle for ``files``; returns one result per
    bundle.

    Per bundle: submit → poll to completion → on fatal error
    (``error_result``) resubmit up to ``max_retries`` times
    (RetryLoadOrCleanupJob.java:58-65); non-fatal ``errors`` are recorded
    but the job counts as complete (:66-72); on success the source files
    are deleted (:73, DeleteFilesJob) unless ``cleanup=False`` (the
    reference's own TODO notes users may want to retain files).
    """
    results: list[LoadJobResult] = []
    for bundle in bundle_files(files, service.file_size, size_limit):
        attempts = 0
        total_polls = 0
        while True:
            attempts += 1
            job_id = service.insert_load_job(dataset, table, bundle, schema)
            job, polls = _poll_to_completion(service, job_id, sleep, min_poll, max_poll)
            total_polls += polls
            if job.get("error_result") is None:
                if cleanup:
                    service.delete_files(bundle)
                results.append(
                    LoadJobResult(
                        bundle=bundle,
                        job_id=job_id,
                        state="DONE",
                        attempts=attempts,
                        poll_count=total_polls,
                        non_fatal_errors=list(job.get("errors") or []),
                    )
                )
                break
            if attempts > max_retries:
                results.append(
                    LoadJobResult(
                        bundle=bundle,
                        job_id=job_id,
                        state="FAILED",
                        attempts=attempts,
                        poll_count=total_polls,
                    )
                )
                break
    return results
