"""Paired-table publishing: the shared machinery for operators that
maintain a PRIMARY versioned table plus a DERIVED companion (the ANN
index + its id map, the dedup index's band table + its shingle store).

Three pieces every such family needs:

* :func:`publish_group` — write both tables' data under ONE version
  label and land both commits as one ``tracker.commit_group``
  (optionally optimistic), every commit message stamped with a shared
  PAIR MARKER;
* :func:`pinned_state` — one self-consistent log read per table feeding
  the RMW base, the optimistic pin, AND the newest pair marker in the
  folded prefix;
* :func:`check_pair` — compare two lines' newest markers and refuse a
  TORN pair loudly (a files-backend crash between the group's two
  appends leaves the tables at different bases; acting on the stale
  companion would be silently wrong, so hot paths fail instead).

The marker rides the commit MESSAGE (the commit metadata has no
extension field) as an opaque ``" [ann-pair:<label>]"`` suffix that
every message consumer tolerates.  The tag spelling is shared across
families — pairing is a protocol property, not an operator property.

No reference counterpart: stettix/chronicles commits one table at a
time (core/.../VersionTracker.scala); cross-table pairing is this
repo's extension for derived-state companions.
"""

from __future__ import annotations

# marker spelling + parsing live in core so the trackers' fold
# checkpoints can record the newest marker of their folded prefix
# (the O(tail) base-resolution fast path); re-exported here because the
# operator families import the protocol from this module
from ..core.markers import (
    PAIR_MARKER_PREFIX, newest_pair_label, pair_label, pair_message,
)

__all__ = [
    "PAIR_MARKER_PREFIX", "pair_label", "pair_message", "TornPairError",
    "TornGroupError", "check_pair", "pinned_state", "publish_group",
    "read_group_states",
]


class TornPairError(RuntimeError):
    """A paired table and its companion do not sit on the SAME pair
    commit — a crash between the group's two appends (or a single-table
    rollback) left them at different bases.  The raiser's message names
    the family's audit/repair tools."""


def check_pair(table, pi: "str | None", pm: "str | None", advice: str) -> None:
    """Fail LOUDLY when the two lines' newest pair markers (within their
    folded prefixes — out-of-band unmarked commits in between don't
    obscure the comparison) disagree.  Both None = a pre-marker legacy
    log (no pairing info; the family's offline audit stays the check
    there); any other asymmetry or label mismatch is a torn pair."""
    if pi is None and pm is None:
        return
    if pi != pm:
        raise TornPairError(
            f"{table.name} and its companion head different pair commits "
            f"(primary pair={pi!r}, companion pair={pm!r}) — a crash "
            "between the group's two appends or a single-table rollback "
            f"tore the pair; {advice}"
        )


def pinned_state(tracker, table_name):
    """ONE self-consistent log read feeding the conflict pin, the RMW
    base, and the pairing check: reading them separately would let a
    commit land in between, making the base newer than the pinned head —
    a spurious conflict on a write that was actually derived from the
    current state.  Returns ``(folded_state, head_commit_id,
    newest_pair_label_in_prefix)``.

    Resolution is O(tail), not O(commit history), wherever the tracker
    offers ``head_resolution`` (files + sqlite backends): the fold and
    the newest-marker lookup both ride the tracker's fold CHECKPOINT
    plus the commits after it, so an extend against a million-commit
    streaming log reads O(checkpoint_interval) commit records, not the
    whole log (docs/scale.md "metadata plane").  ``head_resolution``
    returns None when it cannot answer (no checkpoint yet, a
    pre-upgrade checkpoint without the marker field, a gap-filled
    prefix, or a head deeper than the checkpoints it walks) — then the
    full ``table_state`` walk below is the always-correct degrade.

    The full walk must be SELF-CONSISTENT: the files tracker lists
    commit files before reading head_ref, so a commit racing the read
    can yield a head whose commit is missing from the listed updates —
    and fold.take_through silently folds EVERYTHING when the head id is
    absent, which would pin a head the folded base doesn't contain
    (conflict check passes, base stale → lost update).  Re-read (with
    jittered exponential backoff, 10ms..~150ms, so a sustained
    concurrent writer can't keep every re-read inside one contention
    burst) until the pinned head's commit is present in the update
    list.  (``head_resolution`` cannot meet that race: it reads the
    head before it lists, and the head's commit file is written before
    the head moves.)"""
    from ..core import fold

    fast = getattr(tracker, "head_resolution", None)
    if fast is not None:
        out = fast(table_name)
        if out is not None:
            return out

    st = _consistent_full_state(tracker, table_name)
    base_head = st.current_version
    # newest pair marker within the folded prefix — what the RMW base
    # actually contains (the head itself may be an out-of-band unmarked
    # commit; commits AFTER a rolled-back head must not count)
    prefix = fold.take_through(st.updates, base_head)
    found = newest_pair_label(u.metadata.message for u in reversed(prefix))
    return fold.current_version(st.updates, base_head), base_head, found


class TornGroupError(TornPairError):
    """A group publication's members could not be resolved to one
    mutually consistent generation — a member has no marker at the
    common generation (histories diverged, a member was rolled back
    past it, or a non-group table was passed)."""


def _consistent_full_state(tracker, table_name):
    """A SELF-CONSISTENT full table_state (the head's commit present in
    the update listing) — the same race guard as :func:`pinned_state`'s
    degrade path, for callers that need the update list itself."""
    import random
    import time as _t

    for attempt in range(8):
        if attempt:
            _t.sleep(
                min(0.01 * (2 ** attempt), 0.1) * (0.5 + random.random())
            )
        st = tracker.table_state(table_name)
        if any(
            u.metadata.commit_id == st.current_version for u in st.updates
        ):
            return st
    raise RuntimeError(
        f"could not obtain a self-consistent log read for {table_name} "
        "after 8 attempts (head kept outrunning the commit listing)"
    )


def read_group_states(tracker, table_names, retries: int = 8) -> dict:
    """ONE mutually consistent snapshot across the member tables of a
    ``commit_group`` publication (round 14 — the pairing protocol's
    pinned read, generalized from two fixed roles to N generic tables).
    Returns ``{table_name: (folded_state, commit_id, group_label)}``;
    feed each ``folded_state`` to ``spark.reader.read_version`` (or use
    :func:`chronicles_spark.spark.read_group`).

    Why: ``commit_group`` is all-or-nothing on sqlite and lock-held
    in-memory, but the files backend appends per table in sorted order —
    a reader resolving each member independently mid-group sees
    A-new/B-old.  Every group publication stamps ONE shared marker label
    on all member commits (``versioned_insert_group`` /
    :func:`publish_group`), so consistency is decidable from the
    metadata plane alone:

    * each member resolves via :func:`pinned_state` (O(tail)); when
      every member's newest marker label in its folded prefix AGREES,
      that is one generation — done.  Unmarked individual commits after
      the group commit ride along (they are per-table state, not group
      state);
    * disagreement means a group publish is IN FLIGHT — retry with
      jittered backoff until the trailing members catch up (the common
      case: the window is one commit append);
    * if it never converges (a writer crashed mid-group), pin BACKWARD:
      the newest generation present in EVERY member's history — newest
      by COMMIT ORDER, never by label sort (labels are wall-clock
      strings and commit order is authoritative, core/version.py; a
      skewed writer clock must not steer the pin) — and each member
      resolves AT its commit carrying that label: the newest
      fully-published snapshot.  Members sharing NO generation raise
      :class:`TornGroupError` (fix the lagging table by re-publishing
      the group, the same repair stance as :func:`check_pair`).

    All-None labels (no member ever group-published) are trivially
    consistent — the current pinned states are returned as-is.

    Precondition: pass tables published together as ONE group set.  A
    table belonging to two different groups (B in ``{A, B}`` and in
    ``{B, C}``) keeps its newest marker permanently ahead of the other
    group's members, so every ``read_group_states([A, B])`` pays the
    full retry backoff before resolving to the newest generation A and
    B actually SHARE — correct for the ``{A, B}`` group, but B's newer
    ``{B, C}`` data is (rightly) not visible through this read.  For
    the same reason, do not publish an index family's primary table
    through ``versioned_insert_group`` — the family's companion
    pairing protocol owns that table's marker."""
    from ..core import fold

    names = list(table_names)
    if not names:
        raise ValueError("read_group_states needs at least one table")
    import random
    import time as _t

    pinned = {}
    for attempt in range(retries):
        if attempt:
            _t.sleep(
                min(0.01 * (2 ** attempt), 0.1) * (0.5 + random.random())
            )
        pinned = {n: pinned_state(tracker, n) for n in names}
        if len({lbl for _, _, lbl in pinned.values()}) == 1:
            return dict(pinned)
    newest = {n: lbl for n, (_, _, lbl) in pinned.items()}
    if any(lbl is None for lbl in newest.values()):
        unmarked = sorted(
            str(n) for n, lbl in newest.items() if lbl is None
        )
        raise TornGroupError(
            f"group members {unmarked} have no group marker while others "
            "do — they were never group-published with the rest (pass "
            "only tables published together, or re-publish the group)"
        )
    # the newest generation EVERY member has, by COMMIT ORDER: walk the
    # first member's marked prefix newest-first and take the first label
    # the other members also carry.  Label sort order is wall-clock and
    # must play no part — a writer with a lagging clock publishing the
    # newer generation would otherwise steer the pin to the wrong one
    # (or a spurious TornGroupError) under min(label).
    prefixes = {}
    for n in names:
        st = _consistent_full_state(tracker, n)
        prefixes[n] = (st, fold.take_through(st.updates, st.current_version))
    labels_of = {
        n: [
            lbl
            for u in prefix
            if (lbl := pair_label(u.metadata.message)) is not None
        ]
        for n, (_, prefix) in prefixes.items()
    }
    common = set(labels_of[names[0]])
    for n in names[1:]:
        common &= set(labels_of[n])
    target = next(
        (lbl for lbl in reversed(labels_of[names[0]]) if lbl in common),
        None,
    )
    if target is None:
        raise TornGroupError(
            f"group members {sorted(str(n) for n in names)} share no "
            "group generation — their histories diverged (a rollback "
            "past every common generation, or tables from different "
            "groups); re-publish the group to converge them"
        )
    out = {}
    for n in names:
        st, prefix = prefixes[n]
        cid = next(
            u.metadata.commit_id
            for u in reversed(prefix)
            if pair_label(u.metadata.message) == target
        )
        out[n] = (fold.current_version(st.updates, cid), cid, target)
    return out


def publish_group(
    spark,
    tracker,
    version,
    user_id: str,
    message: str,
    writes,
    expected_heads=None,
    allow_disjoint: bool = True,
):
    """Write every table's data under ONE version label and publish all
    commits as one ``tracker.commit_group`` (optionally optimistic via
    ``expected_heads``), each commit's message stamped with the shared
    pair marker.

    ``writes``: list of ``(table, df, partitions, remove_partitions)``.
    ``df=None`` contributes a data-less update (possibly ops-less too)
    whose job is to land the marker on that table's head — the repair
    tools' re-stamp.  ``partitions=None`` lists the written directories
    (build path); callers that already collected the touched sets pass
    them (extend path).  Data lands first and stays invisible until the
    group commit; a crash between the group's appends is exactly what
    :func:`check_pair` catches on the next read-modify-write.

    Returns ``{table name: partitions}``, the partitions each table's
    commit added at ``version``."""
    from datetime import datetime, timezone

    from ..core.ops import (
        AddPartitionVersion,
        RemovePartition,
        TableUpdate,
        TableUpdateMetadata,
    )
    from ..spark.writer import overlapped, partitions_written, write_versioned

    mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    if (mode or "").lower() != "dynamic":
        raise RuntimeError(
            "The Spark configuration must have spark.sql.sources."
            "partitionOverwriteMode set to 'dynamic'"
        )
    def _write_one(entry):
        table, df, partitions, removes = entry
        if df is not None:
            write_versioned(df, table, version)
            if partitions is None:
                partitions = partitions_written(table, version, spark=spark)
        else:
            partitions = list(partitions or ())
        return (table, partitions, removes)

    # the per-table data writes are independent jobs into different
    # directories; any failure propagates before commit_group
    resolved = overlapped(spark, _write_one, writes)

    meta_ts = datetime.now(timezone.utc)
    stamped = pair_message(message, version.label)
    group = {}
    for table, partitions, removes in resolved:
        ops = [
            AddPartitionVersion(p, version)
            for p in sorted(partitions, key=lambda p: p.path)
        ] + [
            RemovePartition(p)
            for p in sorted(set(removes or ()), key=lambda p: p.path)
        ]
        group[table.name] = TableUpdate(
            TableUpdateMetadata.new(user_id, stamped, meta_ts), tuple(ops)
        )
    tracker.commit_group(
        group, expected_heads=expected_heads, allow_disjoint=allow_disjoint
    )
    return {table.name: list(partitions) for table, partitions, _ in resolved}
