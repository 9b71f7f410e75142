"""Manifest-committed parquet state — the table-format seam for the
streaming maintenance jobs (``state_format="manifest"``).

The plain versioned-parquet state in ``streaming/jobs.py`` pays a
FULL state rewrite per micro-batch (documented honest cost). Real
table formats (Iceberg/Delta) turn that into an append plus a
metadata commit: data files are immutable, and a tiny manifest names
the files that make up each version. This module is that commit
protocol reduced to its essentials, behind the seeded-v0 /
idempotent-redelivery contract of ``jobs.versioned_state_loop``:

- **Segments** are immutable parquet dirs under
  ``{state_dir}/seg/v{N}/``, hash-bucketed on the state's key
  columns (``__bucket = pmod(xxhash64(keys), n_buckets)``).
- **Manifests** are tiny JSON files ``{state_dir}/manifest-v{N}.json``
  mapping each bucket to the LIST of live segment paths composing it.
  The reader unions the listed paths — never a directory scan over
  data.
- **Append commit** (insert-only state, e.g. the chunk index): write
  ONE new segment with the batch's new rows, manifest v{N+1} =
  v{in} with the new path appended to each touched bucket's list.
- **Copy-on-write commit** (mutating state, e.g. the CDC snapshot):
  rewrite ONLY the buckets containing changed keys — each changed
  bucket's list is REPLACED by its single new segment; untouched
  buckets keep their old files byte-for-byte. Per-batch write cost
  is O(changed buckets × bucket size), not O(|state|).

Idempotent redelivery is inherited from version addressing: batch
``b`` reads the highest committed manifest version ≤ ``b``, writes
segments under the deterministic ``seg/v{b+1}`` dir (mode overwrite)
and swaps ``manifest-v{b+1}.json`` in atomically (tmp +
``os.replace``) — a replayed batch rewrites its own output version
from its original input. The manifest file is the commit marker, so
segments without one are never read. Commits never delete segments
(time travel across retained versions); ``gc_manifest_state`` is the
explicit retention walker: keep the newest ``keep_last`` manifests, drop
every older manifest file, and delete exactly the segment dirs no
retained manifest references — bounding storage for a long-running
stream at O(live state × keep_last) instead of O(stream length).

Local-filesystem only, like the plain state dirs: version discovery
lists manifest files with ``os.listdir``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 16


def _bucket_col(key_cols: list[str], n_buckets: int):
    return F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets))


def latest_manifest_version(state_dir: str,
                            at_most: int | None = None) -> int | None:
    """Highest committed manifest version, at most ``at_most`` when
    given (the replay-input resolution of ``jobs.versioned_state_loop``),
    or None when unseeded."""
    if not os.path.isdir(state_dir):
        return None
    versions = []
    for name in os.listdir(state_dir):
        if name.startswith("manifest-v") and name.endswith(".json"):
            num = name[len("manifest-v"):-len(".json")]
            if num.isdigit() and (at_most is None
                                  or int(num) <= at_most):
                versions.append(int(num))
    return max(versions) if versions else None


def _load_manifest(state_dir: str, version: int) -> dict:
    with open(f"{state_dir}/manifest-v{version}.json") as f:
        return json.load(f)


def _write_manifest(state_dir: str, version: int, manifest: dict) -> None:
    tmp = f"{state_dir}/.manifest-v{version}.json.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(manifest, f, sort_keys=True)
    os.replace(tmp, f"{state_dir}/manifest-v{version}.json")


def read_manifest_state(spark: SparkSession, state_dir: str,
                        version: int | None = None,
                        buckets: list[int] | None = None) -> DataFrame:
    """Union the live segments of one committed version (default
    latest); ``buckets`` restricts the read to those buckets' files —
    the storage-level pruning a COW refresh uses to touch only the
    state it will rewrite.

    Paths are DEDUPED before the union: an append commit lists its
    one segment under every bucket it touches, so the same file may
    appear in several lists. That also makes bucket restriction
    best-effort PRUNING, not a filter — a multi-bucket append segment
    is read whole when any of its buckets is wanted (over-read, never
    under-read; COW segments are per-bucket, so restriction is exact
    in a pure-COW lineage)."""
    if version is None:
        version = latest_manifest_version(state_dir)
    if version is None:
        raise ValueError(f"no committed manifest under {state_dir}")
    man = _load_manifest(state_dir, version)
    wanted = (man["buckets"].items() if buckets is None
              else ((str(b), man["buckets"].get(str(b), []))
                    for b in buckets))
    paths = list(dict.fromkeys(
        f"{state_dir}/{p}" for _b, ps in wanted for p in ps))
    if not paths:
        # every wanted bucket is empty: schema-only frame off the
        # always-on-disk schema reference
        return (spark.read.parquet(f"{state_dir}/{man['schema_ref']}")
                .limit(0))
    return spark.read.parquet(*paths)


def _write_segment(df: DataFrame, state_dir: str, version: int,
                   tag: str) -> str:
    """One immutable segment; returns its manifest-relative path.
    Deterministically named per (version, tag) so redelivery
    overwrites its own files."""
    rel = f"seg/v{version}/{tag}"
    df.write.mode("overwrite").parquet(f"{state_dir}/{rel}")
    return rel


def seed_manifest_state(df: DataFrame, state_dir: str,
                        key_cols: list[str],
                        n_buckets: int = DEFAULT_BUCKETS) -> None:
    """Commit version 0: the initial state as one segment per
    non-empty bucket (an empty frame is a legitimate seed — it
    commits a single schema-bearing empty segment that doubles as
    the manifest's schema reference)."""
    os.makedirs(state_dir, exist_ok=True)
    with_b = df.withColumn("__bucket", _bucket_col(key_cols, n_buckets))
    present = sorted(r["__bucket"] for r in
                     with_b.select("__bucket").distinct().collect())
    buckets: dict[str, list[str]] = {str(b): [] for b in range(n_buckets)}
    schema_ref = None
    for b in present:
        rel = _write_segment(with_b.filter(F.col("__bucket") == b)
                             .drop("__bucket"), state_dir, 0, f"b{b}")
        buckets[str(b)] = [rel]
        schema_ref = schema_ref or rel
    if schema_ref is None:  # empty seed: schema-only segment
        schema_ref = _write_segment(df, state_dir, 0, "schema")
    _write_manifest(state_dir, 0, {
        "version": 0, "n_buckets": n_buckets, "key_cols": list(key_cols),
        "schema_ref": schema_ref, "buckets": buckets})


def commit_append(new_rows: DataFrame, state_dir: str,
                  in_version: int, out_version: int) -> None:
    """Insert-only commit: ONE new segment with the batch's rows;
    every touched bucket's list grows by that path, untouched buckets
    (and all previous segments) are untouched bytes. The cheap path
    for append-only state (chunk index: rows are (hash, length), new
    hashes only — dedup is the caller's anti-join)."""
    man = _load_manifest(state_dir, in_version)
    key_cols, nb = man["key_cols"], man["n_buckets"]
    with_b = new_rows.withColumn("__bucket", _bucket_col(key_cols, nb))
    touched = sorted(r["__bucket"] for r in
                     with_b.select("__bucket").distinct().collect())
    buckets = {b: list(ps) for b, ps in man["buckets"].items()}
    if touched:
        rel = _write_segment(with_b.drop("__bucket"), state_dir,
                             out_version, "append")
        for b in touched:
            buckets[str(b)] = buckets[str(b)] + [rel]
    _write_manifest(state_dir, out_version, {**man,
                    "version": out_version, "buckets": buckets})


def commit_cow(new_bucket_rows: DataFrame, changed_buckets: list[int],
               state_dir: str, in_version: int,
               out_version: int) -> None:
    """Copy-on-write commit: ``new_bucket_rows`` is the POST-merge
    content of exactly the ``changed_buckets``; each changed bucket's
    segment list is replaced by one new segment (empty after deletes
    → empty list), all other buckets carry their old paths forward.
    """
    man = _load_manifest(state_dir, in_version)
    key_cols, nb = man["key_cols"], man["n_buckets"]
    with_b = new_bucket_rows.withColumn(
        "__bucket", _bucket_col(key_cols, nb))
    buckets = {b: list(ps) for b, ps in man["buckets"].items()}
    for b in changed_buckets:
        part = with_b.filter(F.col("__bucket") == b).drop("__bucket")
        if part.isEmpty():
            buckets[str(b)] = []
        else:
            buckets[str(b)] = [_write_segment(part, state_dir,
                                              out_version, f"b{b}")]
    _write_manifest(state_dir, out_version, {**man,
                    "version": out_version, "buckets": buckets})


def gc_manifest_state(state_dir: str, keep_last: int = 1) -> dict:
    """Garbage-collect superseded state: retain the newest
    ``keep_last`` committed manifests, delete older manifest files,
    and remove every segment dir under ``seg/`` that no RETAINED
    manifest references (via any bucket list or as ``schema_ref``).

    Deliberately conservative in exactly the ways a production GC
    must be:

    - Liveness is computed from the retained manifests' path lists,
      never from directory naming conventions.
    - Segments whose version is NEWER than the latest retained
      manifest are left alone: commit_append/commit_cow
      write segments BEFORE committing their manifest, so seg/v{N+1}
      with no manifest-v{N+1} is indistinguishable from an in-flight
      commit — deleting it would yield a manifest referencing
      vanished files (silent partial-state reads). A zombie future
      segment from a crashed writer is therefore collected by the
      FIRST GC run after any later commit supersedes its version,
      not by a GC racing the writer.
    - Deletion order is manifests-first for DROPPED versions (so a
      concurrent reader can no longer open a version whose segments
      are about to vanish), segments last; the retained manifests are
      untouched bytes.
    - Time travel contract after GC: versions ≥ (latest − keep_last
      + 1) stay fully readable; older version reads raise (their
      manifest is gone), they do not silently return partial state.

    Returns ``{"kept_versions", "removed_manifests",
    "removed_segments"}`` for audit logging. Idempotent: a second
    call is a no-op.
    """
    import shutil

    if keep_last < 1:
        raise ValueError(f"keep_last={keep_last} must be >= 1")
    latest = latest_manifest_version(state_dir)
    if latest is None:
        return {"kept_versions": [], "removed_manifests": [],
                "removed_segments": []}
    versions = sorted(
        int(name[len("manifest-v"):-len(".json")])
        for name in os.listdir(state_dir)
        if name.startswith("manifest-v") and name.endswith(".json")
        and name[len("manifest-v"):-len(".json")].isdigit())
    kept = versions[-keep_last:]
    dropped = [v for v in versions if v not in kept]

    live: set[str] = set()
    for v in kept:
        man = _load_manifest(state_dir, v)
        live.add(man["schema_ref"])
        for paths in man["buckets"].values():
            live.update(paths)

    removed_manifests = []
    for v in dropped:  # manifests first: unpublish before deleting data
        os.remove(f"{state_dir}/manifest-v{v}.json")
        removed_manifests.append(f"manifest-v{v}.json")

    removed_segments = []
    latest_kept = max(kept)
    seg_root = os.path.join(state_dir, "seg")
    if os.path.isdir(seg_root):
        for vdir in sorted(os.listdir(seg_root)):
            vpath = os.path.join(seg_root, vdir)
            if not os.path.isdir(vpath):
                continue
            # never touch segments newer than the latest committed
            # manifest: they may belong to an IN-FLIGHT commit
            # (segments land before their manifest)
            if (vdir.startswith("v") and vdir[1:].isdigit()
                    and int(vdir[1:]) > latest_kept):
                continue
            for tag in sorted(os.listdir(vpath)):
                rel = f"seg/{vdir}/{tag}"
                if rel not in live:
                    shutil.rmtree(os.path.join(vpath, tag))
                    removed_segments.append(rel)
            if not os.listdir(vpath):  # version dir fully collected
                os.rmdir(vpath)
    return {"kept_versions": kept,
            "removed_manifests": removed_manifests,
            "removed_segments": removed_segments}


def changed_buckets_of(batch: DataFrame, key_cols: list[str],
                       n_buckets: int) -> list[int]:
    """The buckets a change batch touches — a bounded collect
    (≤ n_buckets values)."""
    return sorted(r["__bucket"] for r in
                  batch.select(_bucket_col(key_cols, n_buckets)
                               .alias("__bucket")).distinct().collect())


def compact_manifest_state(spark: SparkSession,
                           state_dir: str) -> dict:
    """FULL segment compaction (offline maintenance): rewrite every
    non-empty bucket's live content as ONE segment and re-commit the
    LATEST manifest in place to reference only the compacted
    segments. The long-running append loops (chunk index, ANN codes)
    grow one shared segment per batch forever — read cost and
    manifest size grow O(batches); compaction resets both to
    O(n_buckets) without changing content (equality pinned by test).

    Two deliberate design points:

    - **Full, not partial.** An append segment is LISTED under every
      bucket it touches; compacting bucket ``b`` alone would leave
      the shared path live under other buckets while ``b``'s rows
      reappear in its compacted segment — a whole-state read (which
      dedups PATHS, not rows) would then double-count ``b``'s rows.
      The correct unit is every bucket at once.
    - **In-place latest, no new version.** The streaming loops
      resolve state as ``latest_manifest_version(at_most=batch_id)``
      and write ``v{batch_id+1}`` idempotently on redelivery; a
      compaction commit at ``latest+1`` would collide with the
      resumed stream's next batch (same version number ⇒ the batch
      would overwrite it as "its own" redelivered output). Rewriting
      ``manifest-v{latest}.json`` atomically (tmp + ``os.replace``)
      allocates nothing. Worst case — a crashed writer redelivers
      batch ``latest`` — the replay regenerates the pre-compaction
      manifest from its original inputs: content stays correct,
      compaction is merely undone and its orphaned segments are
      collected by the next GC.

    Offline-only contract (stream stopped), like ``keep_last=1``
    ``gc_versioned_state`` use. Old segments are NOT deleted here —
    they may be referenced by older retained manifests; run
    :func:`gc_manifest_state` afterwards to collect what no retained
    manifest references. Returns
    ``{"version", "segments_before", "segments_after"}``.
    """
    latest = latest_manifest_version(state_dir)
    if latest is None:
        raise ValueError(f"no committed state under {state_dir}")
    man = _load_manifest(state_dir, latest)
    key_cols, nb = man["key_cols"], man["n_buckets"]
    before = {p for ps in man["buckets"].values() for p in ps}
    state = read_manifest_state(spark, state_dir, latest)
    # one materialization; the 16 per-bucket writes then filter the
    # checkpointed rows instead of re-unioning every segment 16×
    with_b = (state.withColumn("__bucket", _bucket_col(key_cols, nb))
              .localCheckpoint(eager=True))
    buckets: dict[str, list[str]] = {str(b): [] for b in range(nb)}
    schema_ref = None
    for b in range(nb):
        if not man["buckets"][str(b)]:
            continue  # bucket already empty — stays an empty list
        part = with_b.filter(F.col("__bucket") == b).drop("__bucket")
        rel = _write_segment(part, state_dir, latest, f"c{b}")
        buckets[str(b)] = [rel]
        schema_ref = schema_ref or rel
    if schema_ref is None:  # fully-empty state: schema-only segment
        schema_ref = _write_segment(state.limit(0), state_dir,
                                    latest, "cschema")
    _write_manifest(state_dir, latest, {
        **man, "version": latest, "buckets": buckets,
        "schema_ref": schema_ref})
    after = {p for ps in buckets.values() for p in ps} or {schema_ref}
    return {"version": latest, "segments_before": len(before),
            "segments_after": len(after)}
