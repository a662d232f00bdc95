"""Replay-safe shard-commit protocol of the streaming shard sinks
(:mod:`hadoop_bam_spark.streaming.shard_sink`, every ``writeStream``
file format).

Spark's micro-batch contract: if the driver dies between the sink's
``commit()`` and the checkpoint advancing, the SAME ``batchId`` is
re-executed on restart. ``commit_shards`` is therefore idempotent per
batchId:

- **supersede** — any ``batch-{batchId:05d}-*`` shard already in the
  target directory (an earlier attempt of this batch) is deleted before
  the new attempt's renames, so a replay that yields fewer non-empty
  partitions cannot strand stale shards from the first attempt;
- **per-batch manifest** — ``_manifest-{batchId:05d}.jsonl`` is staged
  and renamed into place (atomic replace via ``os.replace`` locally),
  so a replayed batch yields exactly ONE manifest for its id instead of
  appended duplicate lines; an all-empty replay removes a stale one;
- **staging sweep** — leftover ``.staging/attempt-*`` files (failed or
  zombie task attempts; this attempt's winners were just renamed away)
  are swept on every commit and abort, so staging never accumulates.

Read side (r9): the ``*_stream`` tail sources list a sink-output
directory THROUGH :func:`committed_shards` — only batches whose manifest
is in place, only the shards it names. Because the manifest lands
(atomic rename) strictly after every shard of its batch is final, and a
replay atomically replaces it, a manifest-driven tail never consumes a
half-committed batch and never mixes shard sets from two attempts of
one batch — the at-least-once window the raw listing left open
(fault-injection: ``tests/test_streaming.py``). The residual, inherent
to any rename-based sink: a reader that fully consumed a COMMITTED
attempt before a post-commit-pre-checkpoint crash replays it sees that
attempt's (complete, consistent) record set; totals stay exact when the
upstream batch is deterministic, which is Spark's own replay contract.

The reference has no streaming surface (SURVEY.md §2.9); this protocol
is engine surface beyond it.
"""

from __future__ import annotations

import json

from hadoop_bam_spark import fs


def _sweep_staging(dir_: str) -> None:
    """Remove orphaned task-attempt files. Safe while a straggler attempt
    is still writing: its half-file is removed and, never having been
    named in a commit message, would never be renamed into view."""
    staging = fs.join(dir_, ".staging")
    if not fs.exists(staging):
        return
    for name in fs.listdir(staging):
        if name.startswith("attempt-"):
            try:
                fs.remove(fs.join(staging, name))
            except OSError:
                pass


def commit_shards(dir_: str, messages, batch_id: int, ext: str) -> None:
    """Driver-side commit: supersede-then-rename + atomic per-batch
    manifest. ``messages`` are the sinks' WriterCommitMessages (Nones and
    empty partitions filtered here); ``ext`` names the shard suffix
    (".bam", ".vcf.bgz", ...)."""
    staged = [m for m in messages if m is not None and getattr(m, "staged", None)]
    prefix = f"batch-{batch_id:05d}-"
    if not fs.exists(dir_):
        return  # zero-task batch against a never-written directory
    for name in fs.listdir(dir_):
        if name.startswith(prefix) and name.endswith(ext):
            fs.remove(fs.join(dir_, name))
    entries = []
    staging = fs.join(dir_, ".staging")
    for i, m in enumerate(sorted(staged, key=lambda m: m.staged)):
        final = f"{prefix}{i:05d}{ext}"
        fs.rename(fs.join(staging, m.staged), fs.join(dir_, final))
        entries.append(
            {"shard": final, "records": m.records, "batch": batch_id}
        )
    mname = f"_manifest-{batch_id:05d}.jsonl"
    mpath = fs.join(dir_, mname)
    if entries:
        tmp = fs.join(staging, mname)
        with fs.open_file(tmp, "wb") as f:
            for e in entries:
                f.write((json.dumps(e) + "\n").encode())
        fs.rename(tmp, mpath)
    elif fs.exists(mpath):
        fs.remove(mpath)  # replay of a now-empty batch supersedes too
    _sweep_staging(dir_)


def abort_shards(dir_: str, messages) -> None:
    """Driver-side abort: discard this batch's staged files, then sweep."""
    staging = fs.join(dir_, ".staging")
    for m in messages:
        if m is not None and getattr(m, "staged", None):
            try:
                fs.remove(fs.join(staging, m.staged))
            except OSError:
                pass
    _sweep_staging(dir_)


def committed_shards(dir_: str, suffixes: tuple[str, ...]) -> list[str] | None:
    """Shard names recorded by committed per-batch manifests, in batch
    order, restricted to ``suffixes``. Returns ``None`` when the directory
    holds no manifests at all — the caller is tailing a plain drop
    directory, not a shard-sink output, and falls back to raw listing.

    This is the read side of the commit protocol: a manifest is renamed
    into place only AFTER every shard of its batch is renamed final, and a
    replay atomically REPLACES it, so a tail that lists through manifests
    never sees a half-committed batch and never mixes shard sets from two
    attempts of the same batch — the at-least-once window raw directory
    listing leaves open (a raw tail can consume an attempt-1 shard that a
    replay later supersedes with a different record split)."""
    try:
        names = fs.listdir(dir_)
    except OSError:
        return None
    manifests = sorted(
        n for n in names
        if n.startswith("_manifest-") and n.endswith(".jsonl")
    )
    if not manifests:
        # a sink output is recognizable BEFORE its first manifest: task
        # writers create .staging on their first staged file. Returning []
        # (committed: nothing) instead of the raw fallback keeps the very
        # first batch's commit window closed too.
        return [] if ".staging" in names else None
    out: list[str] = []
    for name in manifests:
        try:
            with fs.open_file(fs.join(dir_, name), "rb") as f:
                body = f.read().decode()
        except OSError:
            continue  # replaced mid-read; its batch reappears next tick
        out.extend(
            shard
            for ln in body.splitlines()
            if ln and (shard := json.loads(ln).get("shard"))
            and shard.endswith(suffixes)
        )
    return out


def read_manifest(dir_: str) -> list[dict]:
    """Union of the per-batch manifests, batch order. The consumer-side
    view of what the sink has committed (used by tests and operators)."""
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
