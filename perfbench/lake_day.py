"""lake_day: the composed daily flow of a training-data lake, on one files
tracker.  Each op is one day:

    versioned_insert_into   (the day's raw documents, a new ``day`` partition)
    extend_dedup_index      (with the verified-pairs journal)
    fold_new_dedup_pairs    (cluster index catches up with the journal)
    extend_ann_index        (upsert the day's vectors)
    versioned_insert_group  (publish documents + embeddings together,
                             synced to a metastore)
    read_changes + collect  (the CDC read a downstream consumer makes)
    VersionedMetastore.checkout to past publishes and back
    vacuum(keep_last=2)     (ANN and band tables, so space levels off)

It is the one workload where ``operators`` do most of the work; Spark's
per-job overhead dominates it, and tracker time is small.  Index builds
and one untimed warm-up day happen in setup.  Times are reported on the
reference CPU, as in ``log_history``: the reference loop runs between the
chain's steps, around each read, every 20 checkouts and after each set-up
step, and each time is divided by the mean of the loop times around it.
"""

from __future__ import annotations

import gc
import os
import random
import statistics
import traceback
from typing import Dict, List

from harness import (
    Tracer, bytes_added, cpu_ref_ms, java_descendants, mem_total_bytes, now, proc_cpu_s,
    progress, read_cpu_times, steal_share, walk_sizes,
)
import pyarrow.parquet as pq

import data as gen
from layers import TimedInMemoryMetastore, make_tracker, read_event_log, union_length

SIZES = {
    # base corpus documents and vectors, documents and vectors per day,
    # seconds of nominal run time per day
    "full": dict(base_docs=2000, base_vecs=1500, day_docs=100, day_vecs=50, op_s=15.0),
    "tiny": dict(base_docs=200, base_vecs=150, day_docs=20, day_vecs=10, op_s=15.0),
}
# each day reads its changes this many times, and times checkouts in
# batches (one sample per batch: a checkout alone takes under 1 ms, and a
# batch must outlast the box's 50-200 ms CPU-speed phases)
READS_PER_DAY = 3
CHECKOUT_BATCHES, CHECKOUT_BATCH = 4, 200
# checkouts are pure Python on the driver thread, reported on the
# reference CPU: the reference loop runs once per this many checkouts
REF_EVERY = 20
# layer of each span whose Spark jobs are counted, and its metric name
JOB_METRICS = {
    "writer.data": "writer.jobs",
    "reader.plan": "reader.jobs",
    "reader.exec": "reader.jobs",
    "operators.dedup_extend": "operators.dedup_extend_jobs",
    "operators.cluster_fold": "operators.cluster_fold_jobs",
    "operators.ann_extend": "operators.ann_extend_jobs",
    "operators.group_publish": "operators.group_publish_jobs",
}


def ref_point() -> float:
    """The reference loop's time now, as the mean of three runs so that a
    single 50-200 ms speed phase weighs less in these sparse points."""
    return statistics.fmean(cpu_ref_ms() for _ in range(3))


def start_spark(work: str, events: "str | None"):
    from pyspark.sql import SparkSession

    cores = min(4, os.cpu_count() or 1)
    # a quarter of the box's memory, at most 4 GiB, fixed from the start
    mem_mb = max(1024, min(4096, mem_total_bytes() // 4 // 2**20))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no JVM of the run writes its perf-data file to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("chronicles-perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", f"{mem_mb}m")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            f"-Xms{mem_mb}m -Dderby.system.home={os.path.join(work, 'derby')}",
        )
    )
    if events:
        os.makedirs(events)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", events)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Lake:
    """The tables of the lake on one files tracker."""

    def __init__(self, spark, root: str, tracer: Tracer) -> None:
        from chronicles_spark.core.model import PartitionSchema, TableDefinition, TableName
        from chronicles_spark.operators import dedup_index as DX
        from chronicles_spark.spark.metastore import InMemoryMetastore
        from chronicles_spark.versioned_metastore import VersionedMetastore

        self.spark = spark
        self.root = root
        # the log lives in the program's in-process store, as in log_history
        self.tracker, self.fs = make_tracker(
            f"memory://perfbench-lake-{os.getpid()}/log", tracer)

        def table(name, col):
            t = TableDefinition(TableName("lake", name), os.path.join(root, name),
                                PartitionSchema((col,)))
            self.tracker.init_table(t.name, False, "bench", "init")
            return t

        self.raw = table("docs_raw", "day")
        self.bands = table("bands", "band_shard")
        self.pairs = DX.dedup_pairs_table(self.bands)
        self.dedup_docs = DX.dedup_docs_table(self.bands)
        self.clusters = table("clusters", "doc_shard")
        self.ann = table("ann", "bucket")
        self.pub_docs = table("pub_docs", "day")
        self.pub_emb = table("pub_emb", "day")
        self.metastore = (TimedInMemoryMetastore(tracer) if tracer.enabled
                          else InMemoryMetastore())
        for t in (self.pub_docs, self.pub_emb):
            self.metastore.create_table(t)
        self.vm = VersionedMetastore(self.tracker, self.metastore)
        self.data_tables = (self.raw, self.bands, self.pairs, self.dedup_docs,
                            self.clusters, self.ann, self.pub_docs, self.pub_emb)

    def read_inputs(self, path_docs: str, path_emb: str):
        docs = self.spark.read.parquet(path_docs)
        emb = self.spark.read.parquet(path_emb)
        return docs, emb

    def build(self, docs, emb, centroids, codebooks, refs: List[float]) -> None:
        """Write the base corpus, build the three indexes and publish the
        base; a reference point is appended to ``refs`` after each step."""
        from chronicles_spark.operators import ann_index as AX
        from chronicles_spark.operators import cluster_index as CX
        from chronicles_spark.operators import dedup_index as DX
        from chronicles_spark.spark import versioned_insert_group, versioned_insert_into

        versioned_insert_into(docs, self.raw, self.tracker, "bench", "base")
        refs.append(ref_point())
        progress("base documents written")
        DX.build_dedup_index(docs.select("doc_id", "text"), self.bands, self.tracker,
                             band_shards=8, doc_shards=4)
        refs.append(ref_point())
        CX.build_dedup_clusters(None, self.clusters, self.tracker,
                                doc_shards=4, cluster_shards=4)
        refs.append(ref_point())
        progress("dedup and cluster indexes built")
        AX.build_ann_index(emb.select("vec_id", "embedding"), self.ann, self.tracker,
                           centroids=centroids, codebooks=codebooks, id_map_shards=8)
        refs.append(ref_point())
        progress("ANN index built")
        versioned_insert_group([(docs, self.pub_docs), (emb, self.pub_emb)],
                               self.tracker, "bench", "publish base",
                               metastore=self.metastore)
        refs.append(ref_point())

    def live_bytes(self) -> int:
        from chronicles_spark.spark.reader import live_paths

        total = 0
        for t in self.data_tables:
            for d in live_paths(t, self.tracker.current_version(t.name)):
                total += sum(walk_sizes(d).values())
        return total


def run(work: str, seed: int, seconds: int, scale: str, tracer: Tracer) -> dict:
    size = SIZES[scale]
    n_days = max(1, round(seconds / size["op_s"]))
    rng = random.Random(seed)
    events = os.path.join(work, "events") if tracer.enabled else None

    t_setup = now()
    spark = start_spark(work, events)
    progress("session started")
    try:
        out, per_op, epoch_offset, steal = _days(
            spark, work, seed, n_days, size, rng, t_setup, tracer)
    finally:
        stop_spark(spark)
    if tracer.enabled:  # the event log is complete once the session stopped
        out["layers"] = {
            "fs": [o["fs"] for o in per_op],
            "extra": _spark_layers(tracer, per_op, read_event_log(events), epoch_offset, steal),
        }
    return out


def _days(spark, work, seed, n_days, size, rng, t_setup, tracer):
    """Build the lake, run the warm-up day and the measured days, check the
    indexes.  Returns the result, the per-day counters, the offset of the
    epoch clock from the tracer clock, and the CPU steal share."""
    from chronicles_spark.operators import ann_index as AX
    from chronicles_spark.operators import cluster_index as CX
    from chronicles_spark.operators import dedup_index as DX
    from chronicles_spark.spark import (
        read_changes, read_current, vacuum, versioned_insert_group, versioned_insert_into,
    )
    from chronicles_spark.trackers.base import head_of

    inputs = os.path.join(work, "input")
    os.makedirs(inputs)
    if tracer.enabled:
        sc = spark.sparkContext
        grouped = {"op", *JOB_METRICS}

        # Spark jobs carry the id of the span that submitted them
        def on_enter(s):
            if s.name in grouped:
                sc.setJobGroup(str(s.sid), s.name)

        def on_exit(s, parent):
            if s.name not in grouped:
                return
            if parent is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(str(parent.sid), parent.name)

        tracer.on_enter, tracer.on_exit = on_enter, on_exit
    jvm = java_descendants(os.getpid())
    corpus = gen.Corpus(seed, size["base_docs"], size["base_vecs"],
                        size["day_docs"], size["day_vecs"])
    base_docs, base_emb = corpus.base()
    pq.write_table(base_docs, os.path.join(inputs, "docs_base.parquet"))
    pq.write_table(base_emb, os.path.join(inputs, "emb_base.parquet"))
    # reference points spread over set-up: its time is divided by their mean
    setup_refs = [ref_point()]
    lake = Lake(spark, os.path.join(work, "lake"), tracer)
    docs, emb = lake.read_inputs(os.path.join(inputs, "docs_base.parquet"),
                                 os.path.join(inputs, "emb_base.parquet"))
    lake.build(docs, emb, *corpus.ann_artifacts(base_emb), setup_refs)
    doc_ids = set(gen.ids(base_docs, "doc_id"))
    vec_ids = set(gen.ids(base_emb, "vec_id"))
    pub_commits: List[str] = [head_of(lake.tracker, lake.pub_docs.name)]
    pub_days: List[set] = [{"day=d0000"}]

    writes, reads, rollbacks, walls, cpu_ref = [], [], [], [], []
    raw_ms: Dict[str, List[float]] = {"write": [], "read": [], "rollback": []}
    failures: List[str] = []
    per_op: List[Dict[str, float]] = []
    amp = {"written": 0, "raw": 0}
    attempted = failed = 0

    def one_day(day: int, timed: bool) -> None:
        nonlocal attempted, failed
        rows, vecs = corpus.day(day)
        day_ids = sorted(gen.ids(rows, "doc_id"))
        pd_, pe_ = (os.path.join(inputs, f"{k}_{day:04d}.parquet") for k in ("docs", "emb"))
        pq.write_table(rows, pd_)
        pq.write_table(vecs, pe_)
        day_docs, day_emb = lake.read_inputs(pd_, pe_)
        backs = [[rng.randrange(len(pub_commits)) for _ in range(CHECKOUT_BATCH)]
                 for _ in range(CHECKOUT_BATCHES)]
        before = walk_sizes(lake.root)
        fs0 = dict(lake.fs.n)
        cpu0 = (proc_cpu_s(os.getpid()), sum(proc_cpu_s(p) for p in jvm))
        chain = (
            ("writer.data", lambda: versioned_insert_into(
                day_docs, lake.raw, lake.tracker, "bench", f"day {day}")),
            ("operators.dedup_extend", lambda: DX.extend_dedup_index(
                day_docs.select("doc_id", "text"), lake.bands, lake.tracker,
                pairs_table=lake.pairs)),
            ("operators.cluster_fold", lambda: CX.fold_new_dedup_pairs(
                spark, lake.pairs, lake.clusters, lake.tracker)),
            ("operators.ann_extend", lambda: AX.extend_ann_index(
                day_emb.select("vec_id", "embedding"), lake.ann, lake.tracker)),
            ("operators.group_publish", lambda: versioned_insert_group(
                [(day_docs, lake.pub_docs), (day_emb, lake.pub_emb)], lake.tracker,
                "bench", f"publish day {day}", metastore=lake.metastore)),
        )
        with tracer.span("op") as root:
            t0 = now()
            # the chain's time leaves out the reference points between steps
            chain_refs, chain_s = [ref_point()], 0.0
            for layer, step in chain:
                s0 = now()
                with tracer.span(layer):
                    step()
                chain_s += now() - s0
                chain_refs.append(ref_point())
            day_reads, got = [], []
            read_refs = [ref_point()]
            for _ in range(READS_PER_DAY):
                r0 = now()
                with tracer.span("reader.plan"):
                    changes = read_changes(spark, lake.pub_docs, lake.tracker,
                                           from_commit=pub_commits[-1])
                with tracer.span("reader.exec"):
                    got.append([r[0] for r in changes.select("doc_id").collect()])
                day_reads.append(now() - r0)
                read_refs.append(ref_point())
            head = head_of(lake.tracker, lake.pub_docs.name)
            back_states, day_rollbacks, raw_rollbacks = [], [], []
            for batch in backs:
                raw = ref = 0.0
                refs = [cpu_ref_ms()]
                for i in range(0, len(batch), REF_EVERY):
                    part = 0.0
                    for k in batch[i:i + REF_EVERY]:
                        c0 = now()
                        with tracer.span("versioned_metastore.checkout"):
                            state, _ = lake.vm.checkout(lake.pub_docs, pub_commits[k])
                        part += now() - c0
                        back_states.append((k, state))
                        with tracer.span("versioned_metastore.checkout"):
                            head_state, _ = lake.vm.checkout(lake.pub_docs, head)
                    refs.append(cpu_ref_ms())
                    raw += part * 1000
                    ref += part * 1000 / ((refs[-2] + refs[-1]) / 2)
                day_rollbacks.append(ref / len(batch))
                raw_rollbacks.append(raw / len(batch))
                cpu_ref.extend(refs)
            with tracer.span("vacuum"):
                removed = (vacuum(lake.ann, lake.tracker, keep_last=2)
                           + vacuum(lake.bands, lake.tracker, keep_last=2))
        t3 = now()
        cpu1 = (proc_cpu_s(os.getpid()), sum(proc_cpu_s(p) for p in jvm))
        after = walk_sizes(lake.root)
        fs_delta = {k: lake.fs.n[k] - fs0[k] for k in fs0}
        pub_commits.append(head)
        pub_days.append(pub_days[-1] | {f"day=d{day:04d}"})
        doc_ids.update(day_ids)
        vec_ids.update(gen.ids(vecs, "vec_id"))

        def paths(tv):
            return {p.path for p in tv.partition_versions}

        # the metastore after a checkout, read outside the op: one more
        # checkout to a past publish, then back to head
        k = backs[0][0]
        lake.vm.checkout(lake.pub_docs, pub_commits[k])
        in_ms_back = paths(lake.metastore.current_version(lake.pub_docs))
        lake.vm.checkout(lake.pub_docs, head)
        in_ms_head = paths(lake.metastore.current_version(lake.pub_docs))

        checks = [sorted(ids) == day_ids for ids in got]
        checks += [paths(head_state) == pub_days[-1], in_ms_head == pub_days[-1],
                   in_ms_back == pub_days[k]]
        checks += [paths(state) == pub_days[k] for k, state in back_states]
        bad = sum(1 for c in checks if not c)
        if bad:
            failures.append(f"day {day}: {bad} mismatched results")
        progress(f"day {day} done")
        raw_new = {p: s for p, s in after.items()
                   if p.startswith(lake.raw.location + os.sep) and before.get(p) != s}
        # bytes count on every day, the warm-up too: one day's ratio
        # swings from batch to batch
        amp["written"] += bytes_added(before, after) + fs_delta["write_bytes"]
        amp["raw"] += sum(raw_new.values())
        cpu_ref.extend(chain_refs + read_refs)
        if not timed:
            setup_refs.extend(chain_refs + read_refs)
            return
        attempted += 5 + len(checks)
        failed += bad
        writes.append(chain_s * 1000 / statistics.fmean(chain_refs))
        reads.extend(r * 1000 / ((a + b) / 2)
                     for r, a, b in zip(day_reads, read_refs, read_refs[1:]))
        rollbacks.extend(day_rollbacks)
        raw_ms["write"].append(chain_s * 1000)
        raw_ms["read"].extend(r * 1000 for r in day_reads)
        raw_ms["rollback"].extend(raw_rollbacks)
        walls.append((t3 - t0) * 1000)
        op = {
            "fs": fs_delta,
            "writer.files": len(raw_new),
            "writer.bytes": sum(raw_new.values()),
            "reader.files_read": len(changes.inputFiles()),
            "vacuum.paths_removed": len(removed),
            "proc.driver_cpu_s": cpu1[0] - cpu0[0],
            "proc.jvm_cpu_s": cpu1[1] - cpu0[1],
        }
        if root is not None:
            op["span"] = (root.start, root.end)
        per_op.append(op)
        spark.catalog.clearCache()
        gc.collect()

    one_day(1, timed=False)  # warm-up day, counted in setup
    setup_raw_s = now() - t_setup
    if tracer.enabled:
        tracer.spans.clear()
    cpu_all0 = read_cpu_times()
    for d in range(2, n_days + 2):
        try:
            one_day(d, timed=True)
        except Exception:  # a failing day is counted and the run goes on
            traceback.print_exc()
            attempted += 1
            failed += 1
            failures.append(f"day {d} raised")
    steal = steal_share(cpu_all0, read_cpu_times())

    # end-of-run corpus checks: the dedup store holds every document once,
    # the ANN index every vector once
    for t, want in ((lake.dedup_docs, doc_ids), (lake.ann, vec_ids)):
        n = read_current(spark, t, lake.tracker).count()
        attempted += 1
        if n != len(want):
            failed += 1
            failures.append(f"{t.name} holds {n} rows, the corpus has {len(want)}")
    storage = sum(walk_sizes(lake.root).values())
    live = lake.live_bytes()
    lake.fs.inner.remove_tree(lake.tracker.root)
    epoch_offset = _epoch_offset()

    out = {
        "ops": n_days,
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        # in s of a CPU on which the reference loop takes 1 ms
        "setup_s": setup_raw_s / statistics.fmean(setup_refs),
        "write_ms": writes,
        "read_ms": reads,
        "rollback_ms": rollbacks,
        "op_wall_ms": walls,
        "cpu_ref_ms": cpu_ref,
        "raw_p50_ms": {f"{kind}_p50_ms": statistics.median(v)
                       for kind, v in raw_ms.items()},
        "raw_setup_s": setup_raw_s,
        "write_amp": amp["written"] / amp["raw"],
        "space_amp": storage / live,
    }
    return out, per_op, epoch_offset, steal


def _epoch_offset() -> float:
    """time.time() minus the tracer clock, to place Spark's epoch-time
    job events on the span timeline."""
    import time

    return time.time() - now()


def _spark_layers(tracer: Tracer, per_op, jobs, offset: float, steal: float) -> dict:
    """Per-op means of the Spark job counts per layer span, job time, the
    driver-side gap (op wall minus the union of its job intervals), and
    the per-op counters taken around each op."""
    by_id = {str(s.sid): s for s in tracer.spans}
    n = len(per_op)
    out: Dict[str, float] = dict.fromkeys(set(JOB_METRICS.values()), 0.0)
    job_ms = gap_ms = 0.0
    total_jobs = 0
    for op in per_op:
        lo, hi = op["span"]
        mine = [(max(lo, j["start"] - offset), min(hi, j["end"] - offset), j)
                for j in jobs if lo <= j["start"] - offset <= hi]
        total_jobs += len(mine)
        union = union_length([(a, b) for a, b, _ in mine])
        job_ms += union * 1000
        gap_ms += (hi - lo - union) * 1000
        for _a, _b, j in mine:
            s = by_id.get(j["group"])
            # jobs submitted from threads without the group property are
            # charged to the innermost span open at their submission
            if s is None:
                s = _innermost(tracer, j["start"] - offset)
            while s is not None and s.name not in JOB_METRICS:
                s = by_id.get(str(s.parent)) if s.parent is not None else None
            if s is not None:
                out[JOB_METRICS[s.name]] += 1
    for k in out:
        out[k] /= n
    out["spark.jobs"] = total_jobs / n
    out["spark.job_ms"] = job_ms / n
    out["spark.gap_ms"] = gap_ms / n
    for k in ("writer.files", "writer.bytes", "reader.files_read", "vacuum.paths_removed",
              "proc.driver_cpu_s", "proc.jvm_cpu_s"):
        out[k] = statistics.fmean(o[k] for o in per_op)
    out["proc.steal_frac"] = steal
    return out


def _innermost(tracer: Tracer, t: float):
    best = None
    for s in tracer.spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best
