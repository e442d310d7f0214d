"""The append-only member store under every mutable relation of the
engine: the lexical index (:mod:`~plumberapp_spark.llm.segments`), the
IVF index (:mod:`~plumberapp_spark.llm.similarity`) and the segmented
LM (:mod:`~plumberapp_spark.llm.textqa`).

A relation is a directory of immutable MEMBERS — ``seg_*`` segments,
``delta_*`` deltas, ``tomb_*`` tombstones. A member is complete iff the
``_SUCCESS`` of its completion marker exists, the relation its writer
lands LAST; a member that died mid-write is invisible rather than an
AnalysisException. Everything here is parameterized by member prefix
and completion marker only, so the payload modules keep just their
writers, merges and delete semantics (tombstones for the lexical index
and IVF, negative count segments for the LM). The store owns:

* listing of complete members (:func:`members`, :func:`tombstones`),
  with :func:`recover_swap` run first;
* naming (:func:`member_dir`): an epoch-keyed name pins the directory so
  a replay lands on the same path, and ``skip_if_complete`` makes a
  replay of a complete or absorbed member a no-op; otherwise the next
  zero-padded number;
* the ``absorbed.json`` ledger of the members a compaction folded in
  (:func:`absorbed`, :func:`write_absorbed`);
* the crash-recoverable compaction swap (:func:`compact_and_swap`);
* the tombstone splice (:func:`minus_tombstones`);
* the foreachBatch epoch sink (:func:`epoch_sink`).

Discovery is local-filesystem (``os``) only. Reference analog: the
reference resumes a pipeline without replaying finished work
(plumber_analysis/src/plumber_analysis/pipeline_optimizer.py's
ResumeDataset handling); a complete member is finished work, never
rewritten.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# manual appends use zero-padded ints; streaming ingest uses epoch-keyed
# names (seg_s…, delta_e…). Member ORDER is irrelevant to correctness —
# every merge is a multiset union — so a name only needs to be unique.
_NAME = "[0-9A-Za-z]+"


def recover_swap(path: str) -> None:
    """Complete or roll back a compaction swap that died between its two
    renames. :func:`compact_and_swap` writes a sibling intent marker
    BEFORE touching the live path, so every crash state is decidable:

    * marker absent — no swap in flight; nothing to do.
    * marker present, live path present — the crash hit either before
      the first rename (live relation untouched) or after both (swap
      complete): the path serves correctly either way, so the marker is
      stale — discard it.
    * marker present, live path absent, ``<path>.compact`` present —
      the crash hit BETWEEN the renames (the silent-data-loss window:
      a restarted sink would otherwise recreate ``path`` holding only
      the replayed epoch while the real corpus sits in ``.old.N``).
      Roll FORWARD: the compacted relation is complete by construction
      (it was only renamed after the compaction returned).
    * marker present, neither directory — unrecoverable externally
      induced state; refuse loudly rather than serve an empty index.

    Every listing runs it first, so recovery happens on the first touch
    after a crash, before any member write could recreate ``path``."""
    intent = f"{path}.swapintent"
    if not os.path.exists(intent):
        return
    tmp = f"{path}.compact"
    if os.path.isdir(path):
        os.remove(intent)
        return
    if os.path.isdir(tmp):
        os.rename(tmp, path)
        os.remove(intent)
        return
    raise RuntimeError(
        f"interrupted compaction swap at {path!r}: neither the live index "
        f"nor {tmp!r} survived — restore from the newest {path}.old.N "
        "sibling before serving or appending"
    )


def _complete(path: str, pattern: str, marker: str) -> list[str]:
    recover_swap(path)
    try:
        names = sorted(n for n in os.listdir(path) if re.match(pattern, n))
    except OSError:
        return []
    return [
        os.path.join(path, n)
        for n in names
        if os.path.exists(os.path.join(path, n, marker, "_SUCCESS"))
    ]


def members(path: str, prefix: str, marker: str) -> list[str]:
    """Complete ``{prefix}_*`` members under ``path``, in name order —
    complete iff ``{member}/{marker}/_SUCCESS`` exists."""
    return _complete(path, rf"^{prefix}_{_NAME}$", marker)


def tombstones(path: str, marker: str) -> list[str]:
    """Complete ``tomb_NNNNN`` members under ``path`` (tombstones are
    always numbered, never epoch-keyed)."""
    return _complete(path, r"^tomb_[0-9]+$", marker)


def absorbed(path: str) -> set[str]:
    """Names of the members a PRIOR COMPACTION folded into the relation
    (``absorbed.json``). An epoch-keyed replay must treat an absorbed
    member as complete — its rows are already in the compacted one — or
    a post-compaction replay would double-ingest the epoch. This is
    what makes in-sink auto-compaction exactly-once-preserving."""
    try:
        with open(os.path.join(path, "absorbed.json")) as fh:
            return set(json.load(fh))
    except (OSError, ValueError):
        return set()


def write_absorbed(path: str, out_path: str, folded: list[str]) -> None:
    """Carry the exactly-once ledger into the relation compacted (or
    rebuilt) from ``path`` at ``out_path``: every member in ``folded``
    plus what ``path`` had already absorbed."""
    names = absorbed(path) | {os.path.basename(m) for m in folded}
    with open(os.path.join(out_path, "absorbed.json"), "w") as fh:
        json.dump(sorted(names), fh)


def member_dir(
    path: str,
    prefix: str,
    marker: str,
    listed: list[str],
    name: str | None = None,
    skip_if_complete: bool = False,
) -> tuple[str, bool]:
    """``(directory, already complete)`` of the next ``{prefix}_*``
    member. With a ``name`` (a natural idempotency key such as a
    streaming epoch id) the directory is pinned, so a replayed write
    lands on the same path, and with ``skip_if_complete`` a replay of a
    complete or absorbed member reports done. Without one, the number
    after the largest numbered member in ``listed``, zero-padded."""
    if name is None:
        nums = [
            int(m.group(1))
            for p in listed
            if (m := re.match(rf"^{prefix}_([0-9]+)$", os.path.basename(p)))
        ]
        return os.path.join(path, f"{prefix}_{max(nums, default=-1) + 1:05d}"), False
    pattern = rf"^{prefix}_{_NAME}$"
    if not re.match(pattern, name):
        raise ValueError(f"{prefix} name {name!r} must match {pattern}")
    member = os.path.join(path, name)
    done = skip_if_complete and (
        os.path.exists(os.path.join(member, marker, "_SUCCESS"))
        or name in absorbed(path)
    )
    return member, done


def compact_and_swap(path: str, compact, swap=None) -> str:
    """Compact ``path`` into the sibling ``<path>.compact`` (removed
    first; ``compact(out_path)`` writes it) and swap it in. Returns the
    retired path.

    SWAP CONTRACT: the default swap is two POSIX renames — old relation
    → ``<path>.old.<n>``, compacted → ``path`` — atomic per rename on
    POSIX filesystems but NOT on object stores, where "rename" is
    copy+delete and a reader can observe the path missing between the
    two steps. Deployments on S3/GCS/ABFS pass ``swap(compacted_path,
    live_path) -> retired_path`` implementing their store's pointer flip
    (a manifest/alias update, or a versioned-prefix switch); no rename
    happens here then. The caller (either way) removes the retired copy
    once no in-flight readers reference it.

    CRASH SAFETY: the default swap writes an intent marker before the
    first rename and removes it after the second, so a death anywhere in
    between is repaired — rolled forward — by :func:`recover_swap` the
    next time anything lists the relation."""
    tmp = f"{path}.compact"
    shutil.rmtree(tmp, ignore_errors=True)
    compact(tmp)
    if swap is not None:
        return swap(tmp, path)
    intent = f"{path}.swapintent"
    n = 0
    while os.path.exists(f"{path}.old.{n}"):
        n += 1
    retired = f"{path}.old.{n}"
    with open(intent, "w") as fh:
        fh.write(retired)
    os.rename(path, retired)
    os.rename(tmp, path)
    os.remove(intent)
    return retired


def tomb_local_ids(tombs: list[str], max_ids: int = 10_000):
    """``(id_column_name, sorted tombstoned values)`` when every
    ``{tomb}/ids`` relation is locally readable and their union is small
    enough for an in-plan ``NOT IN`` set: a bounded id SET needs no
    broadcast build job per read. None → callers keep the broadcast
    anti-join (object stores, big takedowns)."""
    from plumberapp_spark.session import local_parquet_rows

    col_name, vals = None, []
    for t in tombs:
        rows = local_parquet_rows(f"{t}/ids", max_rows=max_ids + 1)
        if rows is None:
            return None
        if rows and col_name is None:
            col_name = next(iter(rows[0]))
        vals.extend(next(iter(r.values())) for r in rows)
        if len(vals) > max_ids:
            return None
    if col_name is None:
        return None
    # a NULL tomb id matches nothing under the anti-join's equality —
    # drop it so the IN-set filter agrees exactly
    return col_name, sorted({v for v in vals if v is not None})


def minus_tombstones(spark, tombs: list[str], df: DataFrame) -> DataFrame:
    """``df`` minus every id tombstoned in ``tombs`` (matched on the
    tombstones' own ``ids`` column). Small local takedown sets apply as
    a plan-side ``NOT IN`` filter that pushes into the parquet scan (no
    broadcast build job); anything else keeps the broadcast anti-join.
    NULL-keyed rows survive both forms (an anti-join keeps them because
    NULL equals nothing). Both forms lead with the id column, as the
    anti-join emits it, so a relation written from either has one
    schema."""
    if not tombs:
        return df
    local = tomb_local_ids(tombs)
    if local is not None:
        col_name, vals = local
        if vals:
            df = df.filter(F.col(col_name).isNull() | ~F.col(col_name).isin(vals))
        return df.select(col_name, *[c for c in df.columns if c != col_name])
    from functools import reduce

    from plumberapp_spark.session import read_parquet_cached

    dead = reduce(
        DataFrame.unionByName, [read_parquet_cached(spark, f"{t}/ids") for t in tombs]
    )
    return df.join(F.broadcast(dead), dead.columns[0], "left_anti")


def epoch_sink(prefix: str, append):
    """A foreachBatch function that lands each non-empty micro-batch as
    ONE member named by its epoch id, ``{prefix}{epoch_id:09d}``, through
    ``append(batch_df, name=..., skip_if_complete=True)``: a replay
    after failure rewrites the SAME member (and skips it outright once
    complete or absorbed), turning the sink's at-least-once delivery
    into exactly-once contents. An empty micro-batch writes nothing."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.limit(1).count() == 0:
            return
        append(batch_df, name=f"{prefix}{epoch_id:09d}", skip_if_complete=True)

    return sink
