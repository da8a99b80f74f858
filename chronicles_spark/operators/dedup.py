"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup, and duplicate-cluster resolution.

Scale design (the point of each shape):
* **Exact**: hash-groupBy on a fingerprint — one shuffle keyed by the md5,
  perfectly parallel, skew-free (hashes are uniform).
* **Shingle base**: tokenize → shingle is the expensive per-row step, so it
  runs ONCE behind an explicit materialization barrier (``materialize``:
  persist for in-memory scale, write-parquet-and-reread for the 100 TB
  path).  Every downstream consumer (signatures, LSH bands, Jaccard
  verify, n-gram index) reads the materialized column — no Catalyst
  projection-collapse re-evaluation of the shingle expression.
* **MinHash+LSH**: signatures are per-row array lambdas over the cached
  shingles (NO explode, NO shuffle), then only the b band keys per doc are
  exploded.  Candidate generation is a self-equi-join on (band, key): the
  shuffle carries b rows/doc, not the corpus.  Verification (true Jaccard)
  runs only on candidates, from the same shingle base.
* **SimHash**: ONE tokenization, ONE md5 per token, all ``bits`` bit-votes
  accumulated in a single ``aggregate`` fold into a vote array — not one
  regex pass per bit.  Near-dup candidates via banding the fingerprint
  (pigeonhole: hamming <= bands-1 → some band equal).
* **n-gram Jaccard**: classic inverted-index join on shingles with a
  frequency cutoff to drop super-common shingles (skew control at scale:
  a shingle in f docs contributes f² join rows).
* **Embedding near-dup**: the scale path is banded sign-LSH (random
  hyperplane bits, disjoint plane subsets per band → zero recompute) →
  in-bucket candidate pairs → exact-cosine verify.  The brute O(N²) pair
  join is kept only as the small-N verification baseline.
* **Cluster resolution**: verified pairs → connected components via
  iterative min-label propagation (pure DataFrame joins, lineage cut per
  round with localCheckpoint) → ``(id, cluster_id, keep)`` survivors.

All hashes are md5-hex (lexicographic min of uniform hex strings is a
valid min-hash) so the DuckDB oracles reproduce results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from .text import bind_once, tokens_of

SHINGLE_WIDTH = 3


def shingles_of(text: Column, width: int = SHINGLE_WIDTH) -> Column:
    """Distinct word-``width``-gram shingles (array<string>), computed with
    array lambdas — no explode.

    The token array is bound ONCE per row (:func:`~.text.bind_once`): the
    gram lambda reads it as an O(1) lambda variable.  The former inline
    capture re-ran the token regex once per shingle element — O(tokens²)
    regex work per document, paid on every corpus scan of every MinHash
    build/extend/verify."""

    def _grams(toks: Column) -> Column:
        n = F.size(toks)
        # sequence(1, 0) would yield a DESCENDING [1, 0] — guard short docs
        idx = F.when(
            n >= width, F.sequence(F.lit(1), n - F.lit(width - 1))
        ).otherwise(F.array().cast("array<int>"))
        return F.array_distinct(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, i + j) for j in range(width)]
                ),
            )
        )

    return bind_once(tokens_of(text), _grams)


def materialize(df: DataFrame, scratch_dir: str | None = None, name: str = "mat") -> DataFrame:
    """Materialization barrier: persist (memory+disk) by default; when a
    ``scratch_dir`` is given, write parquet and re-read — the barrier of
    choice for a 100 TB corpus where the executor cache can't hold the
    intermediate and a re-readable columnar copy amortizes downstream
    passes (signatures, verify, clustering)."""
    if scratch_dir is not None:
        path = f"{scratch_dir.rstrip('/')}/{name}"
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def lineage_barrier(
    df: DataFrame,
    scratch_dir: str | None = None,
    name: str = "barrier",
    eager: bool = True,
) -> DataFrame:
    """Materialize AND truncate the logical plan.

    ``persist`` caches data but keeps the full lineage; a cached subplan
    referenced k times still embeds its logical tree k times, and for a
    self-join-shaped subtree (LSH candidates) the analyzer cost of the
    composed query explodes — measured 135s analyzer-dominated vs 12s with
    the lineage cut, same data.  Use this for small re-referenced
    intermediates (candidate pairs); keep ``materialize`` (columnar cache)
    for bases that big column expressions re-scan.

    ``eager=False`` defers only the barrier's FINAL stage to its first
    action.  Under AQE the call itself still runs every shuffle map stage
    of ``df``, synchronously, on the calling thread: building the
    checkpoint RDD materializes the adaptive plan's query stages (1 job at
    the call for a ``distinct``, 2 for a join, measured on Spark 4.1).
    The first action then runs its own jobs over the checkpointed RDD,
    which compute and land that final stage.  So the barrier and the
    first action do not fuse into one job; the saving against
    ``eager=True`` is eager's separate result-stage pass, and a lazy call
    on a shuffle-bearing frame still costs its map stages at the call.
    Only use it when exactly one action runs before other consumers touch
    the frame (a concurrent first-touch would race the materialization of
    the final stage)."""
    if scratch_dir is not None:
        return materialize(df, scratch_dir, name)
    return df.localCheckpoint(eager=eager)


def local_relation(spark, rows, schema) -> DataFrame:
    """``rows`` (tuples in ``schema``'s field order) as a LocalRelation,
    handed over as one Arrow table.

    ``spark.createDataFrame(list)`` yields an RDD-backed scan without
    statistics, so the planner cannot broadcast a join against it: a
    60-row anti-join read-modify-write of a 2,000-row table launched 5
    jobs in 0.85 s against 3 jobs in 0.25 s for the same rows as a
    LocalRelation (medians, Spark 4.1.2, local[4], 4 vCPU).  Columns stay
    nullable, as ``schema`` says."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def in_list(col: str, values) -> Column:
    """``col IN (...)`` built from ONE parsed SQL fragment.

    ``Column.isin`` pays one py4j ``lit`` round-trip per value — at the
    10k-id pushdown caps that is seconds of driver-side plan
    CONSTRUCTION per read (the round-15 profile's verify-gap).  One
    ``F.expr`` parse yields the same ``In`` predicate (identical
    semantics AND the same parquet row-group pushdown).  Ints render
    with the ``L`` suffix (exact bigint literals, matching the id
    columns' type); strings are backslash-escaped.  Values with control
    characters (never produced by the id/key generators) fall back to
    the per-element ``isin`` build."""
    rendered = []
    for v in values:
        if isinstance(v, bool) or not isinstance(v, (int, str)):
            return F.col(col).isin(list(values))
        if isinstance(v, int):
            rendered.append(f"{v}L")
        else:
            if any(ord(ch) < 32 for ch in v):
                return F.col(col).isin(list(values))
            rendered.append(
                "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
            )
    if not rendered:
        return F.lit(False)
    return F.expr(f"`{col}` IN ({','.join(rendered)})")


def shingle_base(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = SHINGLE_WIDTH,
    scratch_dir: str | None = None,
) -> DataFrame:
    """(id, shingles) with the shingle expression evaluated exactly once.

    The single-column projection keeps the barrier narrow; consumers take
    ``F.size('shingles')`` etc. as cheap attribute ops on the cached data."""
    base = df.select(F.col(id_col), shingles_of(F.col(text_col), width).alias("shingles"))
    return materialize(base, scratch_dir, name="shingle_base")


def with_shingles(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("shingles", shingles_of(F.col(text_col)))


# ---------------------------------------------------------------------------
# exact


def exact_duplicate_groups(df: DataFrame, key: Column, id_col: str = "doc_id") -> DataFrame:
    """Groups of exact duplicates by a fingerprint key: one hash shuffle.
    Returns (fp, n_docs, keep_id) for groups with >1 member — ``keep_id``
    (min id) is the canonical survivor."""
    return (
        df.select(key.alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH


def _salted_md5(prefix: str):
    """One-arg transform lambda via a REAL closure.  The old
    ``lambda s, i=i: ... f"{i}|" ...`` spelling was the documented
    F.transform trap twice over: a two-parameter lambda makes Spark pass
    (element, INDEX) — so ``i`` bound the index Column, whose repr
    (``Column<'y_10'>``, counter varies per invocation) became the salt
    via the f-string.  Signatures were self-consistent within one query
    (each i still got a distinct salt) but NON-DETERMINISTIC across
    invocations — harmless for one-shot dedup (exact verify masks
    candidate-set wobble), fatal for the incremental dedup index, whose
    extends must reproduce the build's band keys bit-for-bit."""
    return lambda s: F.md5(F.concat(F.lit(prefix), s))


def minhash_signature(num_hashes: int, shingle_col: str = "shingles") -> list[Column]:
    """num_hashes min-hash values as columns sig_0..sig_{n-1}: per hash i,
    the lexicographic min of md5('<i>|' || shingle). Map-side only; reads
    the materialized shingle column (one md5 pass per hash function is
    inherent to MinHash — the shingle ARRAY itself is never recomputed).
    Deterministic across sessions/invocations (the dedup index contract;
    also what the DuckDB oracles compute)."""
    out = []
    for i in range(num_hashes):
        out.append(
            F.array_min(
                F.transform(F.col(shingle_col), _salted_md5(f"{i}|"))
            ).alias(f"sig_{i}")
        )
    return out


def lsh_band_keys(bands: int, rows: int) -> list[Column]:
    """Band keys: md5 of the concatenated signature slice per band. Each
    sig_i feeds exactly one band — disjoint slices, no re-evaluation."""
    out = []
    for b in range(bands):
        cols = [F.col(f"sig_{b * rows + r}") for r in range(rows)]
        out.append(F.md5(F.concat_ws("|", *cols)).alias(f"band_{b}"))
    return out


def lsh_banded(
    base: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    rows: int = 2,
) -> DataFrame:
    """``(id, band_id, band_key)`` — b rows per doc, the LSH bucketing
    relation candidate generation self-joins on (and the persisted
    payload of the incremental dedup index,
    :mod:`~chronicles_spark.operators.dedup_index`).  Signatures project
    from the materialized shingle column (no shuffle); only the b band
    structs per doc are exploded.  Docs with EMPTY shingle sets are
    dropped: their null signatures would all collapse onto one constant
    band key (md5 of the empty concat) and bucket every short doc with
    every other — exact-verify would reject the pairs anyway (the
    DuckDB oracles' ``WHERE len(shingles) > 0`` filter, made structural
    here)."""
    sigs = base.where(F.size("shingles") > 0).select(
        F.col(id_col), *minhash_signature(bands * rows)
    )
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_id"), k.alias("band_key"))
                    for b, k in enumerate(lsh_band_keys(bands, rows))
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band_id", "bk.band_key")


def minhash_lsh_candidates(
    base: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    rows: int = 2,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing at least one LSH band.

    ``base`` is a materialized shingle base from :func:`shingle_base`.
    Plan shape: project signatures from cached shingles (no shuffle) →
    explode b band rows/doc (:func:`lsh_banded`) → self-join on
    (band_id, band_key) → distinct pairs. The join shuffle is O(b·N)
    rows; hot buckets (identical docs) square only within a bucket."""
    banded = lsh_banded(base, id_col, bands, rows)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_verify(
    base: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs only, reading
    the SAME materialized shingle base as candidate generation (no second
    tokenization of the corpus).

    Intersection via per-pair ``array_intersect`` on the two attached
    shingle arrays (shingle arrays are distinct sets, so its size IS the
    set-intersection count): two equi-joins attach each endpoint's array
    and a map-side JVM set-intersection scores the pair.  The former
    inverted-index shape (semi-join → explode → double join → groupBy)
    shuffled every candidate pair once per shingle (~S× the rows) plus a
    count aggregation; this moves the same bytes in P rows instead of
    P·S and drops two exchanges.  The ``n_inter > 0`` guard reproduces
    the inverted index's only-matching-pairs-surface semantics exactly
    (a zero-overlap pair never appeared in the joined counts), keeping
    the result identical for ANY threshold."""
    sa = base.select(
        F.col(id_col).alias("id_a"), F.col("shingles").alias("_sh_a")
    )
    sb = base.select(
        F.col(id_col).alias("id_b"), F.col("shingles").alias("_sh_b")
    )
    counted = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("_sh_a", "_sh_b")).alias("n_inter"),
            F.size("_sh_a").alias("n_a"),
            F.size("_sh_b").alias("n_b"),
        )
    )
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        counted.where(F.col("n_inter") > 0)
        .select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 8,
    rows: int = 2,
    threshold: float = 0.5,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Full MinHash-LSH dedup pipeline: ONE shingle materialization feeds
    both candidate generation and Jaccard verification.  The candidate
    pair set goes behind a LINEAGE barrier (localCheckpoint /
    write-and-reread), not a plain persist: verify references it three
    times (endpoint semi-join + both sides of the intersection join), and
    with full lineage each reference re-embeds the LSH self-join subtree,
    blowing up Catalyst analysis (measured 135s → 12s at sf0.1 from the
    cut alone).  The pair set itself is tiny relative to the corpus."""
    base = shingle_base(df, id_col, text_col, scratch_dir=scratch_dir)
    cands = lineage_barrier(
        minhash_lsh_candidates(base, id_col, bands, rows), scratch_dir, name="cands"
    )
    return jaccard_verify(base, cands, id_col, threshold)


# ---------------------------------------------------------------------------
# SimHash


def simhash_expr(text_col: str = "text", bits: int = 32) -> Column:
    """SimHash fingerprint as a ``bits``-char bit string.

    Bit p is the sign of Σ over tokens of ±1, where the vote is the high
    bit of hex digit p of md5(token).  Single pass: tokenize once, md5
    each token once, accumulate all ``bits`` votes in ONE ``aggregate``
    fold into a vote array — the document is NOT re-tokenized per bit
    (ref: the round-1 32× regex-pass version was the bench hot spot)."""
    return F.expr(
        f"""concat_ws('', transform(
  aggregate(
    transform(regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0), t -> md5(t)),
    array_repeat(0, {bits}),
    (acc, h) -> zip_with(
      acc,
      transform(sequence(1, {bits}), p ->
        CASE WHEN instr('0123456789abcdef', substr(h, p, 1)) - 1 >= 8
             THEN 1 ELSE -1 END),
      (a, b) -> a + b)
  ),
  v -> CASE WHEN v > 0 THEN '1' ELSE '0' END))"""
    )


def simhash_sql(text_col: str = "text", bits: int = 32) -> str:
    """The DuckDB-dialect twin of :func:`simhash_expr` (correctness oracle
    only — one list_sum per bit is fine there)."""
    pieces = []
    for p in range(1, bits + 1):
        s = (
            f"list_sum(list_transform(regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0), "
            f"t -> CASE WHEN instr('0123456789abcdef', substr(md5(t), {p}, 1)) - 1 >= 8 "
            f"THEN 1 ELSE -1 END))"
        )
        pieces.append(f"(CASE WHEN ({s}) > 0 THEN '1' ELSE '0' END)")
    return "concat(" + ", ".join(pieces) + ")"


def simhash_near_dup_candidates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    bits: int = 32, bands: int = 4,
    max_band_freq: int | None = 200,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Near-dup candidates by banding the simhash: hamming(a,b) <= bands-1
    implies at least one of ``bands`` equal slices (pigeonhole).  The
    fingerprint frame is materialized so the fold expression evaluates
    once per document, not once per band slice.

    ``max_band_freq`` is the skew guard (same role as
    ``ngram_jaccard_pairs``' ``max_shingle_freq``): a band piece shared by
    f documents contributes f² join rows, and template-heavy corpora
    concentrate most documents in a handful of pieces (measured: one piece
    held 65% of docs → 5M pairs from one bucket).  Pieces hotter than the
    cap are dropped from candidate generation — the pigeonhole guarantee
    then holds only among docs whose shared piece is under the cap; run
    exact/fingerprint dedup first so ultra-dense template families are
    collapsed before simhash sees them.  ``None`` disables the guard.
    The piece-frequency table is at most ``bands * 2^(bits/bands)`` rows
    (1024 here), so the filter is a broadcast join, never a shuffle."""
    width = bits // bands
    fp = materialize(
        df.select(F.col(id_col), simhash_expr(text_col, bits).alias("simhash")),
        scratch_dir,
        name="simhash_fp",
    )
    slices = fp.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.substring("simhash", b * width + 1, width).alias("piece"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", "bk.band_id", "bk.piece")
    if max_band_freq is not None:
        piece_ok = (
            slices.groupBy("band_id", "piece")
            .count()
            .where(F.col("count") <= max_band_freq)
            .drop("count")
        )
        slices = slices.join(F.broadcast(piece_ok), ["band_id", "piece"])
    a, b = slices.alias("a"), slices.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.piece") == F.col("b.piece"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    # exact hamming distance on the bit strings for the surviving pairs
    ham = F.size(
        F.filter(
            F.zip_with(
                F.split(F.col("sim_a"), ""),
                F.split(F.col("sim_b"), ""),
                lambda x, y: x != y,
            ),
            lambda v: v,
        )
    )
    return pairs.select("id_a", "id_b", ham.alias("hamming"))


# ---------------------------------------------------------------------------
# n-gram Jaccard (inverted index)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.3,
    max_shingle_freq: int | None = None,
    base: DataFrame | None = None,
) -> DataFrame:
    """All pairs with shingle-set Jaccard >= threshold, via the inverted-
    index self-join. ``max_shingle_freq`` drops shingles appearing in more
    than that many docs before the join — the standard skew guard at scale
    (a shingle in f docs contributes f² join rows).  Jaccard denominators
    use the FULL shingle-set sizes; only the join index is pruned, so the
    score is a documented under-estimate for pairs sharing pruned
    stop-shingles (mirrored exactly in the oracle)."""
    if base is None:
        base = shingle_base(df, id_col, text_col)
    exploded = base.select(
        id_col, F.size("shingles").alias("n_sh"), F.explode("shingles").alias("sh")
    )
    if max_shingle_freq is not None:
        freq_ok = (
            exploded.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df_freq"))
            .where(F.col("df_freq") <= max_shingle_freq)
            .select("sh")
        )
        exploded = exploded.join(freq_ok, "sh", "left_semi")
    a, b = exploded.alias("a"), exploded.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.first(F.col("a.n_sh")).alias("n_a"),
            F.first(F.col("b.n_sh")).alias("n_b"),
        )
    )
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return inter.select("id_a", "id_b", jac.alias("jaccard")).where(
        F.col("jaccard") >= threshold
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """All pairs with cosine >= threshold — brute-force O(N²) baseline used
    to verify the bucketed paths on SMALL inputs only; the declared scale
    path is :func:`embedding_lsh_dedup` (banded sign-LSH candidates →
    exact-cosine verify).

    Arithmetic: element-wise float32→float64 cast, sequential fold — the
    exact shape DuckDB's list functions use, so results are bit-identical."""
    v = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    a, b = v.alias("a"), v.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda side: F.sqrt(
        F.aggregate(
            F.transform(F.col(f"{side}.v"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    cos = F.round(dot / (norm("a") * norm("b")), 6)
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cos.alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def sign_lsh_banded(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """``(id, band_id, band_key)`` sign-LSH banding for embeddings — the
    vector twin of :func:`lsh_banded`, and the persisted payload of the
    incremental embedding dedup index
    (:mod:`~chronicles_spark.operators.emb_dedup_index`).  Per vector
    compute n_planes sign bits against deterministic md5-derived
    hyperplanes (each hyperplane's bit feeds exactly ONE band — disjoint
    subsets, nothing re-evaluated), then explode ``bands`` rows per
    vector with band_key = the band's concatenated bit string.
    Deterministic across sessions/invocations given (n_planes, dim) —
    the same contract :func:`minhash_signature` keeps for text."""
    from .similarity import _lit_array, hyperplane_signs

    planes = hyperplane_signs(n_planes, dim)
    r = n_planes // bands
    v = df.select(F.col(id_col), F.col(vec_col))

    def bit(plane: list[float]) -> Column:
        # ONE parsed array-literal per plane (similarity._lit_array):
        # n_planes × dim unrolled literals made plan CONSTRUCTION the
        # dominant cost of every sign-LSH caller at toy scale (round-15
        # profile: a 19 s driver-side gap on the 4-vector emb extend);
        # zip_with sees the identical doubles — bit-equal band keys
        p = _lit_array(plane)
        d = F.aggregate(
            F.zip_with(F.col(vec_col), p, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.when(d > 0, F.lit("1")).otherwise(F.lit("0"))

    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat(*[bit(planes[b * r + j]) for j in range(r)]).alias("band_key"),
        )
        for b in range(bands)
    ]
    return v.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bk")
    ).select(id_col, "bk.band_id", "bk.band_key")


def cosine_verify(
    base: DataFrame,
    pairs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Exact cosine over candidate pairs only — the embedding twin of
    :func:`jaccard_verify`: joins each endpoint's vector from ``base``
    and keeps pairs at or above ``threshold``.  Same arithmetic as
    :func:`embedding_cosine_pairs` (float→double cast, sequential fold,
    round 6) so DuckDB oracles reproduce values bit-for-bit.

    Each vector's NORM is computed once per vector and carried through
    the join, instead of once per candidate pair: the norm fold over the
    same double array yields the identical float64, so
    ``round(dot/(na*nb), 6)`` is bit-equal to the inline form while a
    pair list that squares within hot LSH buckets pays 1 fold per pair
    instead of 3."""
    from .similarity import as_double, dot as dot_fn, norm as norm_fn

    vd = base.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("v")
    ).select(F.col(id_col), "v", norm_fn(F.col("v")).alias("n"))
    va = vd.select(
        F.col(id_col).alias("id_a"),
        F.col("v").alias("va"),
        F.col("n").alias("na"),
    )
    vb = vd.select(
        F.col(id_col).alias("id_b"),
        F.col("v").alias("vb"),
        F.col("n").alias("nb"),
    )
    cos = F.round(
        dot_fn(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
    )
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_lsh_dedup(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Scale path for embedding near-dup: banded sign-LSH candidates →
    exact-cosine verify.  NO all-pairs join anywhere.

    Plan shape: :func:`sign_lsh_banded` (bands (band_id, band_key) rows
    per vector, disjoint hyperplane subsets), self-equi-join on the band
    key (shuffle carries bands·N rows), then exact cosine only on
    in-bucket candidate pairs.  Recall is tunable via
    (n_planes, bands); pairs with cosine >= threshold that never collide
    in any band are missed — the documented LSH trade-off."""
    banded = sign_lsh_banded(df, dim, id_col, vec_col, n_planes, bands)
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    # cut lineage: the candidate set is re-referenced by both verify joins
    cands = lineage_barrier(cands, name="emb_cands")
    return cosine_verify(df, cands, id_col, vec_col, threshold)


# ---------------------------------------------------------------------------
# duplicate-cluster resolution (connected components)


def dedup_clusters(
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over verified near-dup pairs → survivor table
    ``(id_col, cluster_id, keep)``: cluster_id is the minimum member id
    (the canonical survivor), keep = (id == cluster_id).

    Algorithm: iterative min-label propagation on DataFrames — label(v) =
    min(label(v), min label over neighbors) — followed by a pointer-doubling
    shortcut each round (label(v) ← label(label(v))), so convergence is
    O(log diameter) rounds rather than O(diameter): a chain-shaped cluster
    of 10⁶ docs converges in ~20 rounds, not 10⁶.  Each round is two
    co-partitioned joins + one aggregation, lineage cut with
    localCheckpoint so plans stay bounded.  Raises ``RuntimeError`` if the
    fixpoint is NOT reached within ``max_iter`` rounds — unconverged labels
    would silently split one duplicate cluster into several "survivors".
    No GraphFrames dependency.  At 100 TB scale the pair set (near-dup
    edges) is orders of magnitude smaller than the corpus, and the label
    frame shrinks to distinct endpoint ids — both shuffle-partitioned by
    id, so every round is a co-partitioned join."""
    if max_iter < 1:
        raise ValueError("max_iter must be >= 1")
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                    F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint(eager=True)
    )
    changed = 0
    for it in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # carry the round's STARTING label alongside the update: the
        # convergence check is then a map-side filter over the (about to
        # be checkpointed) result instead of a join of the new frame back
        # against the old one — one action per round, no extra shuffle
        propagated = labels.join(
            neighbor_min, labels.id == neighbor_min.src, "left"
        ).select(
            "id",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
            F.col("label").alias("_prev"),
        )
        # pointer doubling: jump each label to its label's label — path
        # lengths halve every round (every label is itself a vertex id).
        # Skipped in round 0, where labels are at most one hop old and the
        # jump is a no-op: LSH dedup graphs usually converge in 2-3 rounds
        # and shouldn't pay the extra join; long chains still get O(log d).
        if it > 0:
            lookup = propagated.select(
                F.col("id").alias("lid"), F.col("label").alias("llabel")
            )
            propagated = propagated.join(
                lookup, propagated.label == lookup.lid, "left"
            ).select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("llabel"), F.col("label"))
                ).alias("label"),
                "_prev",
            )
        # non-eager checkpoint: the convergence count below is the round's
        # ONE action — it materializes the checkpoint while computing the
        # changed-row count (the old shape paid a separate eager-ckpt job
        # PLUS a join-shaped count job per round)
        new_labels = propagated.localCheckpoint(eager=False)
        changed = new_labels.where(F.col("label") != F.col("_prev")).count()
        labels = new_labels.select("id", "label")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"dedup_clusters did not converge within max_iter={max_iter} "
            f"rounds ({changed} labels still changing); raise max_iter — "
            "unconverged labels would split duplicate clusters"
        )
    return labels.select(
        F.col("id").alias(id_col),
        F.col("label").alias("cluster_id"),
        (F.col("id") == F.col("label")).alias("keep"),
    )


def semantic_dedup(
    df: DataFrame,
    dim: int,
    n_clusters: int = 64,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 3,
    train_fraction: float | None = None,
    max_cluster_size: int = 10_000,
    sub_planes: int = 4,
    centroids=None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster embeddings with learned k-means, then find
    exact-cosine duplicate PAIRS only within each cluster — the k-means
    pre-partition replaces LSH banding as the candidate generator, which
    is the standard curation recipe when embeddings are already trained
    for semantic similarity.  Returns ``(id_a, id_b, cosine)`` pairs with
    ``id_a < id_b`` and ``cosine >= threshold`` — the same edge shape as
    :func:`embedding_lsh_dedup`, so :func:`dedup_clusters` resolves
    survivors identically.

    Scale shape: one k-means fit (optionally on a ``train_fraction``
    sample — see :func:`..similarity.kmeans_fit`), ONE assignment pass,
    one within-bucket self-equi-join.  The join is O(c²) per cluster, so
    clusters larger than ``max_cluster_size`` are sub-bucketed by
    ``sub_planes`` deterministic sign-LSH bits (the skew guard, same
    policy family as ``max_band_freq``/``max_shingle_freq``): near-dups
    that straddle a sub-bucket boundary inside an oversized cluster are
    the documented recall trade-off — raise ``n_clusters`` to shrink
    clusters instead of raising the cutoff.

    Deliberately ONE-SHOT: this function re-FITS the quantizer per run.
    The incremental path is
    :mod:`~chronicles_spark.operators.semantic_dedup_index` (same
    recipe, centroids PINNED in the index's geometry sidecar — extends
    agree with this function under injected ``centroids``), or
    :mod:`~chronicles_spark.operators.emb_dedup_index` when no learned
    state is wanted; ``docs/usage.md`` §8f says which applies when."""
    from .similarity import (
        _assign_nearest,
        _lit_array,
        as_double,
        hyperplane_signs,
        kmeans_fit,
    )

    if threshold < -1.0 or threshold > 1.0:
        raise ValueError("threshold must be a cosine in [-1, 1]")
    # validate dim BEFORE the distributed fit (milliseconds vs wasting
    # the whole k-means job): a wrong dim would NULL-poison the
    # sub-bucket dot products (zip_with pads the shorter array),
    # silently disabling the skew guard
    dim_row = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    if dim_row and dim_row[0]["d"] != dim:
        raise ValueError(
            f"dim={dim} does not match the embedding dimension "
            f"{dim_row[0]['d']} observed in {vec_col!r}"
        )
    # centroids= injects an existing quantizer (the ANN-build move) —
    # the incremental index's differential contract runs the one-shot
    # under the index's PINNED centroids
    if centroids is None:
        centroids = kmeans_fit(
            df, n_clusters, iters, id_col, vec_col,
            train_fraction=train_fraction,
        )
    vd = df.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
    # barrier the ASSIGNMENT as (id, cluster) — two narrow columns, the
    # shape lineage_barrier is for — so the k-means argmin runs over the
    # corpus exactly once; everything downstream re-joins vectors from
    # the source (the sibling embedding_lsh_dedup makes the same split:
    # keys checkpointed, vectors re-joined, never the embeddings)
    assigned = lineage_barrier(
        _assign_nearest(vd, centroids).select(F.col(id_col), "cluster"),
        name="semdedup_assign",
    )

    # skew guard: oversized clusters get sign-LSH sub-buckets
    sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("c_size"))
    planes = hyperplane_signs(sub_planes, dim)

    def bit(plane: list[float]) -> Column:
        # one parsed array-literal per plane (see sign_lsh_banded)
        p = _lit_array(plane)
        d = F.aggregate(
            F.zip_with(F.col("v"), p, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.when(d > 0, F.lit("1")).otherwise(F.lit("0"))

    sub_key = F.when(
        F.col("c_size") > max_cluster_size,
        F.concat(*[bit(p) for p in planes]),
    ).otherwise(F.lit(""))
    keyed = lineage_barrier(
        assigned.join(F.broadcast(sizes), "cluster")
        .join(vd, id_col)
        .select(
            F.col(id_col),
            F.concat(
                F.col("cluster").cast("string"), F.lit("|"), sub_key
            ).alias("bucket_key"),
        ),
        name="semdedup_keys",
    )
    # per-vector norms computed once and carried through the bucket
    # self-join (bit-equal cosine — see cosine_verify): in-cluster pair
    # counts square within buckets, norms must not square with them
    from .similarity import dot as dot_fn, norm as norm_fn

    vn = vd.select(F.col(id_col), "v", norm_fn(F.col("v")).alias("n"))
    a = keyed.join(vn, id_col).select(
        F.col(id_col).alias("id_a"), F.col("bucket_key"),
        F.col("v").alias("va"), F.col("n").alias("na"),
    )
    b = keyed.join(vn, id_col).select(
        F.col(id_col).alias("id_b"), F.col("bucket_key"),
        F.col("v").alias("vb"), F.col("n").alias("nb"),
    )
    cos = F.round(
        dot_fn(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
    )
    return (
        a.join(b, ["bucket_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )
