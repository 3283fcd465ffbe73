"""The one commit protocol of every sink, batch and streaming, and the read
side that lists a directory through it.

This is Hadoop's ``FileOutputCommitter`` shape, which the reference's
sharded writers rely on (PAPER.md capability 4): a task writes only into
staging, under a name unique to its attempt, and output becomes visible
only when the driver commits.

- **Task side** (:func:`staged_part`, :func:`write_staged`): each task
  attempt runs the format's part writer (:mod:`hadoop_bam_spark.sinks`)
  on ``attempt-{taskAttemptId}-p{partition:05d}{ext}`` inside a
  dot-prefixed staging directory and removes the file (and its sidecars)
  if it raises. A retried or speculative attempt gets its own name, so no
  attempt writes over another's file. Batch writes run it through
  ``mapInArrow``, stream writes through :class:`ShardStreamWriter`.
- **Driver side, sharded** (:func:`commit_shards`): rename each staged
  shard to its final name (sidecar-safe, see :func:`replace_file`),
  replace the manifest (staged, then renamed), delete every shard and
  sidecar the write owns that the new manifest does not name, then sweep
  staging. A batch write owns every ``part-*`` name of its directory, so
  an overwrite with fewer partitions leaves none of the old shards. A
  streaming micro-batch owns its ``batch-{batchId:05d}-*`` names, so a
  replay of the same batchId (Spark re-runs it when the driver dies
  between the sink's commit and the checkpoint) supersedes the earlier
  attempt and leaves exactly one manifest for it.
- **Driver side, single file** (:func:`publish_file`): the merged file
  and its sidecars are written to a hidden temporary file next to the
  target; :func:`replace_file` deletes every sidecar of the target,
  renames the data file, then renames the new sidecars. A reader may meet
  the new data with no index, never new data with an old index.
- **Failure**: staging and temporary files are removed and the earlier
  output is left as it was.
- **Read side** (:func:`committed_shards`): a directory with manifests
  lists only the shards they name. A manifest lands strictly after every
  shard it names is final, and a replay replaces it by rename, so a
  reader never sees a half-committed write and never mixes the shard
  sets of two attempts. The residual, inherent to any rename-based sink:
  a reader that fully consumed a committed attempt before a replay sees
  that attempt's (complete, consistent) records.
"""

from __future__ import annotations

import json
import posixpath
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql.datasource import DataSourceStreamArrowWriter, WriterCommitMessage

from hadoop_bam_spark import fs

#: staging directory inside a shard directory (dot-prefixed: never data)
STAGING = ".staging"

#: every index sidecar a sink writes or a source reads next to a data file
SIDECARS = (".bai", ".csi", ".sbi", ".splitting-bai", ".tbi", ".crai", ".fai")


@dataclass
class ShardCommit(WriterCommitMessage):
    staged: str | None  # name inside the staging dir; None: empty partition
    records: int


@contextmanager
def staged_part(staging: str, ext: str = ""):
    """Task side: yield this task attempt's own path inside ``staging``;
    remove it and its sidecars if the task raises."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    fs.makedirs(staging)
    part = fs.join(
        staging, f"attempt-{ctx.taskAttemptId()}-p{ctx.partitionId():05d}{ext}"
    )
    try:
        yield part
    except BaseException:
        _remove_with_sidecars(part)
        raise


def _remove_with_sidecars(path: str) -> None:
    for p in (path, *(path + s for s in SIDECARS)):
        fs.remove(p)


def write_staged(staging: str, ext: str, part, batches) -> tuple:
    """Task side of every sink, batch and stream: run the part writer
    ``part(path, batches) -> (records, info)`` on this attempt's staged
    path. Returns ``(path, records, info)``."""
    with staged_part(staging, ext) as path:
        return (path, *part(path, batches))


def replace_file(src: str, dst: str) -> None:
    """Move ``src`` and its sidecars over ``dst``: delete every sidecar of
    ``dst`` first, then rename the data file, then the new sidecars."""
    for s in SIDECARS:
        fs.remove(dst + s)
    fs.rename(src, dst)
    for s in SIDECARS:
        if fs.exists(src + s):
            fs.rename(src + s, dst + s)


@contextmanager
def publish_file(path: str):
    """Driver side of a single-file write: yield ``(staging, tmp)``, a
    hidden staging directory and a hidden temporary file next to ``path``.
    The body runs the tasks into ``staging`` and writes the merged file and
    its sidecars at ``tmp``; on success they replace ``path``. Either way
    staging and temporary files are removed afterwards."""
    head, sep, base = path.rpartition("/")
    hidden = f"{head}{sep}.{base}"
    staging, tmp = hidden + STAGING, hidden + ".tmp"
    try:
        yield staging, tmp
        replace_file(tmp, path)
    finally:
        fs.remove_tree(staging)
        for p in (tmp, *(tmp + s for s in SIDECARS)):
            fs.remove(p)


def _sweep_staging(dir_: str) -> None:
    """Remove orphaned task-attempt files. Safe while a straggler attempt
    is still writing: its half-file is removed and, never having been
    named in a commit message, would never be renamed into view."""
    staging = fs.join(dir_, STAGING)
    if not fs.exists(staging):
        return
    for name in fs.listdir(staging):
        if name.startswith("attempt-"):
            fs.remove(fs.join(staging, name))


def commit_shards(dir_: str, messages, batch_id: int | None, ext: str,
                  fmt: str = "") -> None:
    """Driver-side commit of the staged shards named by ``messages``
    (Nones and empty partitions are skipped) into ``dir_``.

    ``batch_id`` None is a batch write: shard ``i`` of the message order
    becomes ``part-{i:05d}{ext}`` and the manifest is ``_manifest.json``
    with each shard's bytes and record count, the format name ``fmt`` and
    the total. A micro-batch names its shards
    ``batch-{batchId:05d}-{i:05d}{ext}`` in staged-name order and writes
    ``_manifest-{batchId:05d}.jsonl``; one with no rows removes its
    manifest."""
    staged = [m for m in messages if m is not None and m.staged]
    if batch_id is None:
        prefix, mname = "part-", "_manifest.json"
    else:
        staged.sort(key=lambda m: m.staged)
        prefix, mname = f"batch-{batch_id:05d}-", f"_manifest-{batch_id:05d}.jsonl"
    if not fs.exists(dir_):
        return  # zero-task micro-batch against a never-written directory
    staging = fs.join(dir_, STAGING)
    entries = []
    for i, m in enumerate(staged):
        name = f"{prefix}{i:05d}{ext}"
        src = fs.join(staging, m.staged)
        if batch_id is None:
            entry = {"shard": name, "bytes": fs.file_size(src),
                     "records": m.records}
        else:
            entry = {"shard": name, "records": m.records, "batch": batch_id}
        replace_file(src, fs.join(dir_, name))
        entries.append(entry)
    if batch_id is None:
        data = json.dumps({
            "shards": entries, "format": fmt,
            "records": sum(m.records for m in staged),
        }, indent=1).encode()
    else:
        data = "".join(json.dumps(e) + "\n" for e in entries).encode()
    mpath = fs.join(dir_, mname)
    if data:
        with fs.open_file(fs.join(staging, mname), "wb") as f:
            f.write(data)
        fs.rename(fs.join(staging, mname), mpath)
    else:
        fs.remove(mpath)
    named = {e["shard"] for e in entries}
    for name in fs.listdir(dir_):
        shard = next((name[: -len(s)] for s in SIDECARS if name.endswith(s)), name)
        if name.startswith(prefix) and shard not in named:
            fs.remove(fs.join(dir_, name))
    _sweep_staging(dir_)


class ShardStreamWriter(DataSourceStreamArrowWriter):
    """The stream sink of every format (``writeStream.format(...)``): each
    task writes its Arrow batches through ``part``, the same part writer
    the format's ``write_*(sharded=True)`` uses (:mod:`hadoop_bam_spark.sinks`),
    so every non-empty partition of a micro-batch lands as a complete
    standalone shard, committed into ``dir`` by :func:`commit_shards` under
    its batchId. An empty partition leaves no shard."""

    def __init__(self, dir_: str, ext: str, part):
        self._dir = dir_
        self._ext = ext
        self._part = part

    def write(self, iterator) -> ShardCommit:
        path, n, _ = write_staged(
            fs.join(self._dir, STAGING), self._ext, self._part, iterator
        )
        if n == 0:
            _remove_with_sidecars(path)
            return ShardCommit(staged=None, records=0)
        return ShardCommit(staged=posixpath.basename(path), records=n)

    def commit(self, messages, batchId: int) -> None:
        commit_shards(self._dir, messages, batchId, self._ext)

    def abort(self, messages, batchId: int) -> None:
        _sweep_staging(self._dir)  # this batch's staged files included


def committed_shards(dir_: str, suffixes: tuple[str, ...]) -> list[str] | None:
    """Shard names with one of ``suffixes`` that the manifests of ``dir_``
    name (``_manifest.json`` of a batch write, ``_manifest-*.jsonl`` of a
    stream). ``None`` when ``dir_`` is no sink output (no manifest, no
    staging): the caller lists it raw. A sink output is recognizable
    before its first manifest, because tasks create the staging directory
    with their first file; it lists as empty then."""
    try:
        names = fs.listdir(dir_)
    except OSError:
        return None
    manifests = sorted(
        n for n in names
        if n == "_manifest.json"
        or (n.startswith("_manifest-") and n.endswith(".jsonl"))
    )
    if not manifests:
        return [] if STAGING in names else None
    out: list[str] = []
    for name in manifests:
        try:
            with fs.open_file(fs.join(dir_, name), "rb") as f:
                body = f.read().decode()
        except OSError:
            continue  # replaced mid-read; its batch reappears next tick
        entries = (
            json.loads(body)["shards"] if name.endswith(".json")
            else [json.loads(ln) for ln in body.splitlines() if ln]
        )
        out.extend(
            e["shard"] for e in entries if e["shard"].endswith(suffixes)
        )
    return out


def read_manifest(dir_: str) -> list[dict]:
    """Union of the per-batch manifests of a streaming sink, batch order.
    The consumer-side view of what the sink has committed."""
    entries: list[dict] = []
    for name in sorted(fs.listdir(dir_)):
        if name.startswith("_manifest-") and name.endswith(".jsonl"):
            with fs.open_file(fs.join(dir_, name), "rb") as f:
                entries.extend(
                    json.loads(ln)
                    for ln in f.read().decode().splitlines()
                    if ln
                )
    return entries
