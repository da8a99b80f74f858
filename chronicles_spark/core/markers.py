"""Pair-marker protocol: the opaque commit-message suffix that binds a
paired table and its derived companion to one logical publish.

Lives in ``core`` (not ``operators.pairing``) because the trackers'
fold CHECKPOINTS record the newest marker of their folded prefix — the
piece that makes the index families' read-modify-write base resolution
O(tail) instead of O(commit history) (``head_resolution`` on the files
and sqlite trackers).  :func:`newest_pair_label` is the one scan for
that marker (checkpoint cuts, ``head_resolution``, the full walk of
``operators.pairing.pinned_state``).  A files checkpoint records it in
three states: a label, an explicit null (the whole prefix holds no
marker), or no field (a cut over a checkpoint written before the field
existed: unknown, so ``head_resolution`` degrades to the full walk).
:mod:`chronicles_spark.operators.pairing` re-exports the marker names;
the marker spelling is a protocol property shared by every family.

No reference counterpart: stettix/chronicles commits one table at a
time (core/.../VersionTracker.scala); pairing is this repo's extension.
"""

from __future__ import annotations

PAIR_MARKER_PREFIX = " [ann-pair:"


def pair_message(message: str, version_label: str) -> str:
    """Stamp a pair commit's message with the shared pair marker — the
    cheap hot-path pairing check reads it back from both heads."""
    return f"{message}{PAIR_MARKER_PREFIX}{version_label}]"


def pair_label(message: "str | None") -> "str | None":
    """The pair marker's label, or None for unmarked (pre-marker legacy
    or non-pair) commits."""
    if not message or not message.endswith("]"):
        return None
    i = message.rfind(PAIR_MARKER_PREFIX)
    if i < 0:
        return None
    return message[i + len(PAIR_MARKER_PREFIX):-1]


def newest_pair_label(messages, prior=None):
    """The label of the first marked message in ``messages`` (newest
    first), else ``prior``, the newest marker before them — returned
    unchanged, so a caller's own "unknown" value survives."""
    for m in messages:
        label = pair_label(m)
        if label is not None:
            return label
    return prior
