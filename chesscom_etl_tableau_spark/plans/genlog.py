"""Generation log: the one commit core behind every durable plane.

A log is a directory of immutable JSON docs, one per generation:

    <dir>/<prefix><generation, zero-padded><suffix>

The planes built on it are the manifest sink and its incremental views
(`plans/ingest.py`, `_manifests/manifest-*.json`), the warehouse
(`_txns/txn-*.json`), the index log (`operators/index_log.py`,
`_generations/gen-*.json`), forget intents and their done docs
(`plans/forget.py`, `_forget/forget-*.json`) and the metadata export
(`plans/metadata_export.py`).

The protocol needs only object-store primitives: LIST, GET and an
exclusive-create PUT. There is no rename and no lock.

- Readers resolve the newest generation (`current`) or pin one (`read`).
  Zero padding makes the lexicographic order the numeric order.
- Every read applies the protocol fence: a doc stamped with a protocol
  newer than `PROTOCOL` raises `ManifestProtocolError`. Failing loudly
  beats ignoring features the writer relied on. Unstamped docs are v1.
- A writer publishes generation N+1 by exclusive create (locally
  `open(.., "x")`, on S3 a conditional PUT with If-None-Match). Exactly
  one writer wins a generation; `publish` raises `GenerationConflict`
  for every other.
- `commit` is the optimistic-concurrency loop: resolve the newest doc,
  let the caller's step compute the next one against it, publish, and
  on a lost race re-run the step against the winner's doc.
- Docs list data files by reference and data files are never rewritten.
  Nothing is deleted at commit time: staging that never got published
  is reaped (`reap_unpublished`), old docs are dropped by `expire`, and
  `gc` deletes the data files no remaining doc lists.

IO goes through a small adapter: `_OsIO` (plain os calls, the default)
or `_HadoopIO` (the Hadoop FileSystem API, for any scheme the session's
Hadoop conf resolves).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass
from typing import TYPE_CHECKING, Callable, Iterable

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

PROTOCOL = 1


class ManifestProtocolError(RuntimeError):
    """A doc was written under a newer protocol than this reader knows."""


class GenerationConflict(RuntimeError, FileExistsError):
    """Another writer published this generation first."""


class _OsIO:
    """Local-filesystem metadata IO (the default fast path): plain os
    calls, including the O_EXCL exclusive create the commit protocol
    itself uses."""

    @staticmethod
    def listdir(d: str) -> list[str]:
        return os.listdir(d)

    @staticmethod
    def read_text(p: str) -> str:
        with open(p) as f:
            return f.read()

    @staticmethod
    def read_bytes(p: str) -> bytes:
        with open(p, "rb") as f:
            return f.read()

    @staticmethod
    def write_text_exclusive(p: str, body: str) -> None:
        with open(p, "x") as f:
            f.write(body)

    @staticmethod
    def exists(p: str) -> bool:
        return os.path.exists(p)

    @staticmethod
    def getmtime(p: str) -> float:
        return os.path.getmtime(p)

    @staticmethod
    def getsize(p: str) -> int:
        return os.path.getsize(p)

    @staticmethod
    def makedirs(p: str) -> None:
        os.makedirs(p, exist_ok=True)


class _HadoopIO:
    """Metadata IO through the Hadoop FileSystem API (the "single
    switch" the local-only contract documented): every call resolves
    the path's scheme to its Hadoop FileSystem, so `file:`, `hdfs:`,
    `s3a:` etc. all work wherever the session's Hadoop conf can reach.
    Exclusive create maps to `FileSystem.create(path, overwrite=false)`
    — atomic on HDFS and local; NOT atomic on S3A, whose exists+create
    is a non-atomic check-then-act unless the bucket has conditional
    writes (If-None-Match) enabled — two racing committers can both
    "win". On such stores the exporters' content-verify-on-collision
    keeps lost races harmless for these DERIVED, deterministic
    documents (same generation => byte-identical content, so the race
    is benign); a store-native commit protocol (S3 conditional PUT,
    DynamoDB-style log store) would be required before pointing the
    PRIMARY commit path at S3A. Bytes move through py4j, which is fine
    for metadata-sized documents and footer reads (the only payloads
    the metadata export moves)."""

    def __init__(self, spark: SparkSession):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()

    def _p(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, p: str):
        fs = self._p(p).getFileSystem(self._conf)
        # ChecksumFileSystem wrappers (file: resolves to one) shadow
        # every write with a .crc sidecar and fail reads of externally
        # modified files with a ChecksumException — wrong for a
        # metadata dir other tools read and write. Unwrap to the raw
        # filesystem when the wrapper exposes one (HDFS/S3A do not and
        # keep their native semantics).
        try:
            return fs.getRawFileSystem()
        except Exception:
            return fs

    def listdir(self, d: str) -> list[str]:
        fs = self._fs(d)
        if not fs.exists(self._p(d)):
            raise FileNotFoundError(d)
        return [s.getPath().getName() for s in fs.listStatus(self._p(d))]

    def read_bytes(self, p: str) -> bytes:
        fs = self._fs(p)
        stream = fs.open(self._p(p))
        try:
            data = self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        finally:
            stream.close()
        return bytes(data)

    def read_text(self, p: str) -> str:
        return self.read_bytes(p).decode("utf-8")

    def write_text_exclusive(self, p: str, body: str) -> None:
        fs = self._fs(p)
        if fs.exists(self._p(p)):
            raise FileExistsError(p)
        try:
            out = fs.create(self._p(p), False)
        except Exception as ex:  # raced: surface as the os-path error
            raise FileExistsError(p) from ex
        try:
            out.write(bytearray(body.encode("utf-8")))
        finally:
            out.close()

    def exists(self, p: str) -> bool:
        return self._fs(p).exists(self._p(p))

    def getmtime(self, p: str) -> float:
        return self._fs(p).getFileStatus(self._p(p)).getModificationTime() / 1000.0

    def getsize(self, p: str) -> int:
        return int(self._fs(p).getFileStatus(self._p(p)).getLen())

    def makedirs(self, p: str) -> None:
        self._fs(p).mkdirs(self._p(p))


@dataclass(frozen=True)
class Log:
    """One generation log. `where` names the log's owner (the table or
    index root) in errors, and `kind` is the noun the protocol-fence
    error uses."""

    dir: str
    prefix: str
    where: str
    kind: str = "generation"
    suffix: str = ".json"
    width: int = 12
    io: object = _OsIO

    def path(self, gen: int) -> str:
        return os.path.join(self.dir, f"{self.prefix}{gen:0{self.width}d}{self.suffix}")


def generations(log: Log) -> list[int]:
    """Published generation numbers, ascending; [] for an absent log."""
    lo, hi = len(log.prefix), -len(log.suffix)
    try:
        names = log.io.listdir(log.dir)
    except FileNotFoundError:
        return []
    return sorted(
        int(n[lo:hi])
        for n in names
        if n.startswith(log.prefix) and n.endswith(log.suffix) and n[lo:hi].isdigit()
    )


def read(log: Log, gen: int) -> dict:
    """The fenced doc of generation `gen`. Raises FileNotFoundError for a
    generation never published (or already expired)."""
    doc = json.loads(log.io.read_text(log.path(gen)))
    v = doc.get("protocol", 1)
    if v > PROTOCOL:
        hint = "; upgrade the reader before touching this sink" if log.kind == "manifest" else ""
        raise ManifestProtocolError(
            f"{log.where}: {log.kind} protocol {v} > supported {PROTOCOL}{hint}"
        )
    return doc


def current(log: Log) -> tuple[int, dict]:
    """(generation, doc) of the newest generation; (0, {}) when none."""
    gens = generations(log)
    if not gens:
        return 0, {}
    return gens[-1], read(log, gens[-1])


def publish(log: Log, gen: int, doc: dict | str) -> int:
    """Publish generation `gen` by exclusive create and return it. A str
    doc is written verbatim, a dict as JSON. Raises GenerationConflict
    when the generation already exists."""
    body = doc if isinstance(doc, str) else json.dumps(doc)
    log.io.makedirs(log.dir)
    try:
        log.io.write_text_exclusive(log.path(gen), body)
    except FileExistsError as e:
        raise GenerationConflict(log.path(gen)) from e
    return gen


def commit(log: Log, step: Callable[[int, dict], tuple], max_retries: int, lost: str):
    """The optimistic-concurrency loop every writer shares.

    Each attempt resolves the newest (gen, doc) and calls
    `step(gen, doc)`, which returns `(next_doc, result)`. A None
    `next_doc` means there is nothing to publish; otherwise it is
    published as gen+1. Either way `result` is returned. A lost race
    re-runs the step against the winner's doc, so the step must
    recompute everything it derived from `doc`. Raises
    RuntimeError(`lost`) after `max_retries` lost races."""
    for _ in range(max_retries):
        gen, doc = current(log)
        next_doc, result = step(gen, doc)
        if next_doc is None:
            return result
        try:
            publish(log, gen + 1, next_doc)
        except GenerationConflict:
            continue
        return result
    raise RuntimeError(lost)


def expire(log: Log, keep_last: int) -> int:
    """Delete all but the newest `keep_last` docs (local logs). The data
    files only they listed become gc-reapable. Returns docs removed."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    doomed = generations(log)[:-keep_last]
    for g in doomed:
        os.remove(log.path(g))
    return len(doomed)


def live_set(log: Log, files_of: Callable[[dict], Iterable[str]]) -> set[str]:
    """Union of `files_of(doc)` over every published generation: the
    files gc and staging reaps must keep."""
    out: set[str] = set()
    for g in generations(log):
        try:
            out.update(files_of(read(log, g)))
        except FileNotFoundError:
            continue  # expired since the listing: it pins nothing now
    return out


def data_files(d: str) -> list[str]:
    """Sorted paths of the parquet data files directly under `d`; [] when
    `d` does not exist."""
    try:
        return sorted(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    except FileNotFoundError:
        return []


def reap_unpublished(
    log: Log, dirs: Iterable[str], files_of: Callable[[dict], Iterable[str]]
) -> None:
    """Remove the staging dirs in `dirs` none of whose data files any
    generation lists (a failed or lost commit's writes)."""
    try:
        live = live_set(log, files_of)
    except ManifestProtocolError:
        return  # a newer writer's docs: what is live is unknown, keep all
    for d in dirs:
        if os.path.isdir(d) and not any(f in live for f in data_files(d)):
            shutil.rmtree(d, ignore_errors=True)


def gc(dirs: Iterable[str], live: set[str], min_age_sec: float = 0.0, private: bool = True) -> int:
    """Delete the data files under `dirs` that `live` does not list and
    return how many. Files younger than `min_age_sec` are kept: an
    in-flight writer may be about to publish them. A `private` dir holds
    one transaction's files (`txn-<uuid>/`), so once none of them is live
    it goes whole; a shared dir (a hive partition every writer appends
    into) only ever loses single files."""
    horizon = time.time() - min_age_sec

    def old(f: str) -> bool:
        try:
            return min_age_sec <= 0 or os.path.getmtime(f) <= horizon
        except FileNotFoundError:
            return False

    removed = 0
    for d in dirs:
        files = data_files(d)
        dead = [f for f in files if f not in live and old(f)]
        if private and dead and len(dead) == len(files):
            shutil.rmtree(d, ignore_errors=True)
        else:
            for f in dead:
                os.remove(f)
        removed += len(dead)
    return removed
