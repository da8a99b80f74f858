"""Artifact-sidecar GC, shared by every family that stamps a JSON
sidecar per data version label at its table root (the ANN index's
``_ann_artifacts_``, the dedup indexes' ``_dedup_artifacts_``).

One generic sweep keyed by the sidecar PREFIX: a sidecar is doomed when
every version directory the commit log recorded for its label has
already been deleted — pure storage truth, so the sweep can never
outrun :func:`~chronicles_spark.spark.vacuum.vacuum`'s retention policy
(tags, keep_last windows, branch pins all resolve to data directories
that still exist).

No reference counterpart: stettix/chronicles has no derived-state
sidecars (core/.../VersionTracker.scala tracks only table data).
"""

from __future__ import annotations

from ..core.model import TableDefinition
from ..trackers.base import VersionTracker
from ..trackers.fs import filesystem_for


def vacuum_artifact_sidecars(
    table: TableDefinition,
    tracker: VersionTracker,
    prefix: str,
    dry_run: bool = False,
    orphan_min_age=None,
    version_index: bool = True,
) -> list:
    """Reclaim ``<prefix><label>.json`` sidecars whose index version's
    DATA is gone — the companion sweep to
    :func:`~chronicles_spark.spark.vacuum.vacuum` (which reclaims the
    version directories but knows nothing about sidecars).  Returns the
    removed (dry-run: doomed) paths.

    Like vacuum, the sweep enumerates EVERY line of history over this
    storage location (the table plus all its branches) when mapping
    labels to directories — a label committed only on a branch must
    never be misread as a commit-less orphan — and refuses to run
    against a branch name (a branch shares its source's storage).  A
    sidecar whose label NO line's log recorded (a build that crashed
    between sidecar write and commit) is doomed only once older than
    ``orphan_min_age`` (default 7 days — vacuum's orphan retention),
    and kept when the backend cannot report an mtime.  Each line's
    CURRENT HEAD-PAIR label is protected unconditionally: marker-only
    commits (an empty-index bootstrap, a geometry-only rebuild, legacy
    no-change folds) legitimately anchor loads on a label with no (or
    no longer live) data directory, and dooming that sidecar would
    break every subsequent fold/load of a healthy index.  Cost: one root
    listing + O(#doomed-candidate labels × their partition count)
    existence probes — metadata-scale.  The label→directory mapping
    resolves through the persisted versions index + log tail
    (``spark/version_index.py``, shared with vacuum's) so the sweep
    costs O(new commits) log reads instead of re-parsing every commit
    of every line; ``version_index=False`` restores the full walk."""
    from datetime import timedelta
    import time as _time

    from ..branching import branches, parse_branch
    from ..core import paths as vpaths
    from ..spark.version_index import line_versions_indexed
    from .pairing import pinned_state

    if parse_branch(table.name) is not None:
        raise ValueError(
            f"{table.name} is a branch; sweep its source table's sidecars "
            "(branch-committed labels are protected automatically)"
        )
    if orphan_min_age is None:
        orphan_min_age = timedelta(days=7)
    fs, root = filesystem_for(table.location)
    sidecars = [
        n
        for n in fs.list_dir(root)
        if n.startswith(prefix) and n.endswith(".json")
    ]
    labels = {n[len(prefix):-len(".json")] for n in sidecars}
    dirs_by_label: dict = {}
    lines = [table.name, *branches(tracker, table.name).values()]
    line_entries = line_versions_indexed(
        tracker, table, lines, use_index=version_index
    )
    for line in lines:
        for partition, version in line_entries[line]:
            if partition is not None and version.label in labels:
                dirs_by_label.setdefault(version.label, set()).add(
                    vpaths.path_for(partition.resolve_path(root), version)
                )
    # every line's newest head-pair marker label is load-bearing (the
    # families anchor artifact resolution on it) — never doom it, even
    # when the label maps to no (or no surviving) data directory
    protected = {pinned_state(tracker, line)[2] for line in lines} - {None}
    doomed = []
    now = _time.time()
    for n in sorted(sidecars):
        label = n[len(prefix):-len(".json")]
        path = fs.join(root, n)
        if label in protected:
            continue
        dirs = dirs_by_label.get(label, set())
        if dirs:
            if not any(fs.is_dir(d) for d in dirs):
                doomed.append(path)
            continue
        mt = fs.mtime(path)
        if mt is not None and now - mt > orphan_min_age.total_seconds():
            doomed.append(path)
    # content-addressed parquet payloads (operators/artifact_payload):
    # a payload file survives while ANY surviving sidecar at this root
    # — of any family — references its hash; unreferenced payloads age
    # out under the same orphan guard (covers the crash window between
    # payload write and sidecar write, and payloads whose last
    # referencing sidecar this very sweep dooms)
    from .artifact_payload import PAYLOAD_PREFIX, PAYLOAD_SUFFIX

    payload_files = [
        n
        for n in fs.list_dir(root)
        if n.startswith(PAYLOAD_PREFIX) and n.endswith(PAYLOAD_SUFFIX)
    ]
    if payload_files:
        import json as _json

        doomed_set = set(doomed)
        live_refs = set()
        for n in fs.list_dir(root):
            if not (n.startswith("_") and n.endswith(".json")):
                continue
            path = fs.join(root, n)
            if path in doomed_set:
                continue
            try:
                live_refs.add(_json.loads(fs.read_text(path)).get("payload_ref"))
            except (FileNotFoundError, ValueError):
                continue  # torn/foreign file holds no reference
        for n in sorted(payload_files):
            sha = n[len(PAYLOAD_PREFIX):-len(PAYLOAD_SUFFIX)]
            if sha in live_refs:
                continue
            path = fs.join(root, n)
            mt = fs.mtime(path)
            if mt is not None and now - mt > orphan_min_age.total_seconds():
                doomed.append(path)
    if not dry_run:
        for p in doomed:
            fs.remove_file(p)
    return doomed
