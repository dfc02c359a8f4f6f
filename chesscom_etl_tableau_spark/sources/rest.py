"""REST archive source with retry/backoff/rate-limit (SURVEY.md §2.1 S1-S3).

The reference fetches `https://api.chess.com/pub/player/{u}/games/
archives` then each monthly archive, with 3 retries, exponential x2
backoff from 2.0s, retry statuses {429,500,502,503,504}, a 30s timeout
and a courtesy delay between requests (fetch_and_post.py:57-87,
319-344). This module re-expresses that as:

- `RetryingFetcher`: transport-agnostic retry/backoff wrapper. The
  transport is injected (a callable url -> (status, body)), so tests
  run hermetically and production can plug urllib/requests.
- `fetch_archive_lists` / `fetch_archives`: the one fetch path. The
  driver fetches each user's archive list, then each new archive, one
  paced request at a time (the API's courtesy delay bounds throughput,
  not CPU), and hands the archives to Spark with
  `spark.createDataFrame` and the explicit nested schema.

Failure isolation (I7): a URL that exhausts retries yields an error
record instead of failing the job; errors land in the status log and
the archive is NOT marked processed, so the next run retries it —
exactly the reference's continue-and-log contract
(fetch_and_post.py:322-325, 339-342).
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from chesscom_etl_tableau_spark.schemas import ARCHIVE_SCHEMA

RETRY_STATUSES = frozenset({429, 500, 502, 503, 504})
DEFAULT_MAX_RETRIES = 3
DEFAULT_BACKOFF_S = 2.0
DEFAULT_DELAY_S = 1.0

# transport: url -> (http_status, body_text). Exceptions count as retryable.
Transport = Callable[[str], tuple[int, str]]


class FetchError(Exception):
    def __init__(self, url: str, status: int | None, message: str):
        super().__init__(f"{url}: status={status} {message}")
        self.url = url
        self.status = status


def urllib_transport(timeout_s: float = 30.0, user_agent: str = "spark-graft-engine/0.1") -> Transport:
    """Production transport (stdlib only; no extra deps)."""

    def fetch(url: str) -> tuple[int, str]:
        import urllib.error
        import urllib.request

        req = urllib.request.Request(url, headers={"User-Agent": user_agent})
        try:
            with urllib.request.urlopen(req, timeout=timeout_s) as resp:
                return resp.status, resp.read().decode("utf-8")
        except urllib.error.HTTPError as e:  # has a status -> retry decision
            return e.code, ""

    return fetch


@dataclass
class RetryingFetcher:
    """S3: bounded retries with exponential backoff + inter-request delay."""

    transport: Transport
    max_retries: int = DEFAULT_MAX_RETRIES
    backoff_s: float = DEFAULT_BACKOFF_S
    delay_s: float = DEFAULT_DELAY_S
    sleep: Callable[[float], None] = time.sleep  # injectable for tests
    attempts: int = field(default=0, init=False)

    def fetch_json(self, url: str):
        backoff = self.backoff_s
        last_status: int | None = None
        for attempt in range(1, self.max_retries + 1):
            self.attempts += 1
            try:
                status, body = self.transport(url)
            except Exception as e:  # network-level error: retryable
                status, body = None, str(e)
            last_status = status
            if status == 200:
                return json.loads(body)
            if status is not None and status not in RETRY_STATUSES:
                raise FetchError(url, status, "non-retryable")
            if attempt < self.max_retries:
                self.sleep(backoff)
                backoff *= 2.0
        raise FetchError(url, last_status, f"exhausted {self.max_retries} retries")

    def paced(self) -> None:
        """I6 rate limit: courtesy delay between consecutive requests."""
        if self.delay_s > 0:
            self.sleep(self.delay_s)


def archives_list_url(username: str) -> str:
    return f"https://api.chess.com/pub/player/{username}/games/archives"


def fetch_archive_lists(fetcher: RetryingFetcher, usernames: list[str]) -> list[tuple[str, str]]:
    """S1: (username, archive_url) pairs; failed users are skipped (I7)."""
    out: list[tuple[str, str]] = []
    for user in usernames:
        try:
            payload = fetcher.fetch_json(archives_list_url(user))
        except FetchError:
            continue  # logged by caller; user retried next run
        for url in payload.get("archives", []):
            if url:
                out.append((user, url))
        fetcher.paced()
    return out


def fetch_archives(
    spark: SparkSession,
    fetcher: RetryingFetcher,
    user_archives: list[tuple[str, str]],
) -> tuple[DataFrame, list[tuple[str, str, str]]]:
    """S2 driver-side: fetch each archive's games JSON -> nested DataFrame.

    Returns (archives_df, errors) where errors = (user, url, message).
    """
    rows, errors = [], []
    for user, url in user_archives:
        try:
            payload = fetcher.fetch_json(url)
            rows.append({"username": user, "archive_url": url, "games": payload.get("games", [])})
        except FetchError as e:
            errors.append((user, url, str(e)))
        fetcher.paced()
    df = spark.createDataFrame(rows, ARCHIVE_SCHEMA) if rows else spark.createDataFrame([], ARCHIVE_SCHEMA)
    return df, errors

