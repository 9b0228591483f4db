"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of each choice):

- **exact**: md5(normalized) + hash groupBy — one shuffle keyed by a
  16-byte hash; map-side combine collapses duplicates early.
- **n-gram Jaccard**: shingle-explode → self-join on shingle →
  count-per-pair. The join is keyed on the shingle hash; frequent
  shingles are the skew risk, so `max_shingle_freq` drops stop-shingles
  (standard trick; exactness for rare-shingle pairs is unaffected).
- **MinHash+LSH**: signatures via k seeded hash slots computed in ONE
  pass over exploded shingles (`min(xxhash64(shingle, seed_i))`), then
  banding; only same-band docs join. This bounds the candidate set —
  the all-pairs join never materializes.
- **SimHash**: 64 per-bit weighted sums aggregated JVM-side in one
  groupBy pass; near-dup = signatures at Hamming distance ≤ d via
  band-rotation join.

All hashing is Spark-side (xxhash64/md5 — deterministic, versioned);
no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from ..session import fresh_persist


def _normalized(text: Column) -> Column:
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def tokens_col(text: Column) -> Column:
    """Whitespace tokens of normalized text."""
    return F.split(_normalized(text), " ")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup groups: md5(normalized text) → (hash, count, keeper)."""
    h = df.select(
        F.col(id_col), F.md5(_normalized(F.col(text_col))).alias("text_hash")
    )
    return h.groupBy("text_hash").agg(
        F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keep_doc_id")
    )


def _shingled(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Distinct (id, word-n-gram shingle) rows, all JVM-side.

    ``array_distinct`` IN-ROW makes the exploded rows unique already
    (one document's shingles live in one array; ids are unique per
    row), so the frame is map-only — no shuffle and no post-explode
    ``.distinct()``. A distinct would not serve as a cross-branch
    materialization point either: ReusedExchange does not survive AQE
    re-planning, so each branch would still recompute the explode.
    Multi-branch consumers materialize explicitly
    (``ngram_jaccard_pairs``'s persist); single-branch consumers
    (minhash, contamination) read the map-only frame directly.
    """
    base = df.select(F.col(id_col).alias("_id"), tokens_col(F.col(text_col)).alias("_toks"))
    ngrams = F.expr(
        f"array_distinct(transform(sequence(1, greatest(size(_toks), {n}) - {n} + 1), "
        f"i -> concat_ws(' ', slice(_toks, i, {n}))))"
    )
    return base.select("_id", F.explode(ngrams).alias("shingle"))


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (a < b, jaccard ≥ threshold).

    jaccard = |A∩B| / (|A| + |B| − |A∩B|) with integer counts — exact
    and engine-independent. ``max_shingle_freq`` drops shingles shared
    by more than that many docs BEFORE the self-join — default ON: at
    corpus scale one stop-shingle ("of the and") otherwise creates a
    quadratic hot key (10⁶ docs sharing it → 10¹² join rows). Dropping
    it loses nothing: a shingle in >1000 docs carries ~zero Jaccard
    signal for any pair. Pass ``None`` for the exact-oracle semantics —
    memory-safe at any skew (the self-join STREAMS each shingle's
    pair block: the sort-merge group buffer spills to disk, no O(freq²)
    row is ever materialized); the cap remains the *CPU/pair-count*
    bound (a freq-f shingle still emits C(f,2) pairs).

    Input contract: ``id_col`` must be unique per input row — shingle
    frequencies and per-doc sizes count (id, shingle) pairs directly
    (duplicate ids would double-count; dedupe upstream).

    Eagerness: with ``max_shingle_freq`` set, constructing the
    DataFrame runs ONE bounded Spark job (the hot-set count that picks
    the cap-join strategy at plan time); the shingle frame itself is a
    lineage-preserving ``persist(MEMORY_AND_DISK)`` — an executor loss
    recomputes the lost blocks instead of failing the query (a
    ``localCheckpoint`` would pin lineage-free blocks: cheaper locally,
    fatal mid-query at cluster scale). A fully lazy variant (no
    caches, AQE-decided cap join) was measured SLOWER even at sf0.1
    (4.32 vs 3.34 same-window best) — each consumer branch re-runs the
    explode and the freq aggregation — so materialization is
    unconditional.
    """
    # The shingle frame feeds FOUR plan branches (the frequency cap,
    # both self-join pair sides, the per-doc sizes). Uncached, each
    # branch would recompute the scan+tokenize+explode (ReusedExchange
    # does not fire across AQE-replanned subtrees), so it is persisted
    # (MEMORY_AND_DISK) and filled by ONE count job. The cached blocks
    # keep their lineage, and column pruning / whole-stage codegen
    # reach the parquet scan (a localCheckpoint's RDD boundary would
    # block both). fresh_persist evicts any entry a previous
    # construction left, so every construction recomputes from the
    # source (no cross-run cache).
    sh = fresh_persist(_shingled(df, text_col, id_col, n))
    if max_shingle_freq is not None:
        # The cap is an ANTI-join against the HOT set ({shingle:
        # freq > cap}) instead of a semi-join against the <=cap set.
        # Row-for-row equivalent: every shingle of ``sh``
        # appears in the frequency table derived from ``sh`` itself,
        # and shingles are never null (concat_ws output), so
        # "not in the >cap set" == "in the <=cap set". What flips is
        # the join's SMALL side: the <=cap set is nearly the whole
        # shingle dictionary (grows with corpus vocabulary —
        # unbroadcastable at scale) while the hot set is structurally
        # bounded at rows/cap keys.
        # NOT persisted: caching a post-shuffle aggregate builds its
        # InMemoryRelation without AQE partition coalescing — the count
        # job runs all 8×CPU initial partitions as near-empty tasks
        # (measured: persisting hot+sizes cost ~0.8 s per run at
        # sf0.1). The count below builds the hot set once. When it is
        # non-empty, every plan branch that reads the anti-joined
        # ``sh`` (the per-doc sizes and both pair sides) builds it
        # again from the cached ``sh`` blocks.
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_f"))
            .filter(F.col("_f") > max_shingle_freq)
            .select("shingle")
        )
        # Bounded plan-time job (the hot set is ≤ rows/cap keys); the
        # same job populates the ``sh`` cache. Skip the join when no
        # shingle exceeds the cap (the common case — anti-join against
        # the empty set is the identity). When non-empty, the join
        # strategy is AQE's: it sees the hot side's RUNTIME bytes and
        # broadcasts iff it fits under autoBroadcastJoinThreshold,
        # shuffling otherwise. A forced F.broadcast under a row-count
        # cap would misjudge long-shingle corpora — the driver collects
        # the broadcast side, and JVM string overhead is 2–3× the raw
        # bytes; a byte-based runtime decision cannot.
        n_hot = hot.count()
        if n_hot:
            sh = sh.join(hot, "shingle", "left_anti")
    # the per-doc size table is NOT persisted: caching a
    # post-shuffle aggregate builds without AQE partition coalescing
    # (near-empty 8×CPU-task stages, measured ~0.8 s/run at sf0.1 for
    # hot+sizes together) — recomputing the one-row-per-doc aggregate
    # from the cached ``sh`` blocks for each pair-side join is cheaper.
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
    # Pair generation as a SELF-EQUI-JOIN on the cached shingle frame.
    # A block explode (collect_list per shingle, O(block²) per-row
    # combination arrays) would bound per-row memory too, but its
    # nested higher-order transforms are CodegenFallback — every
    # emitted pair passes through interpreted expression eval (measured
    # noop-isolated: ~2.6 s of a 3.4 s query at sf0.1). The equi-join
    # emits the SAME C(freq,2) a<b pair stream per shingle through
    # whole-stage-codegen'd join machinery, STREAMING: the sort-merge
    # group buffer spills to disk (ExternalAppendOnlyUnsafeRowArray),
    # so no O(freq²) — nor even O(freq) — row is materialized; memory
    # safety at any skew is preserved (pinned by the uncapped
    # all-docs-shingle test). Same shuffle bytes as collect_list (both
    # exchange the full (shingle, id) stream; the join does it twice,
    # the second read from cache). Measured interleaved same-window:
    # 3.32 vs 4.46 s best-of-4, pair set byte-identical.
    xa = sh.select("shingle", F.col("_id").alias("a"))
    xb = sh.select("shingle", F.col("_id").alias("b"))
    common = (
        xa.join(xb, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(sizes.withColumnsRenamed({"_id": "a", "_sz": "sz_a"}), "a")
        .join(sizes.withColumnsRenamed({"_id": "b", "_sz": "sz_b"}), "b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("a", "b", "common", "sz_a", "sz_b", "jaccard")


# Portable hash mode: universal hashing over one md5 base per shingle.
# base = first 60 bits of md5(shingle) reduced mod P (Mersenne 2^31-1);
# slot i = (A_i * base + B_i) mod P. One md5 per shingle (not one per
# seed), products stay < 2^62 so plain int64 arithmetic reproduces it
# in any SQL engine — this is what makes the operator oracle-checkable.
MINHASH_P = 2_147_483_647  # 2^31 - 1


def minhash_affine_consts(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (A_i, B_i) pairs for the portable hash mode —
    shared by the Spark plan and generated oracle SQL."""
    import random

    rng = random.Random(0x5EED)
    return [
        (rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """MinHash signatures: num_hashes seeded hash minima per doc.

    One explode + one groupBy with ``num_hashes`` min() aggregates —
    a single shuffle, all JVM-side (both hash modes are Column exprs).
    ``xxhash64`` (default) hashes per (shingle, seed); ``md5`` is the
    engine-portable affine scheme above.

    Input contract (shared with :func:`ngram_jaccard_pairs`):
    ``id_col`` must be unique per input row — duplicate ids would
    merge two documents' shingle sets into one signature.
    """
    sh = _shingled(df, text_col, id_col, n)
    if hash_mode == "xxhash64":
        slot = [F.xxhash64(F.col("shingle"), F.lit(i)) for i in range(num_hashes)]
    elif hash_mode == "md5":
        base = (
            F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
            % MINHASH_P
        )
        slot = [
            (F.lit(a) * base + F.lit(b)) % MINHASH_P
            for a, b in minhash_affine_consts(num_hashes)
        ]
    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    aggs = [F.min(s).alias(f"mh_{i}") for i, s in enumerate(slot)]
    return sh.groupBy("_id").agg(*aggs).withColumnRenamed("_id", id_col)


def minhash_lsh_pairs(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 band of their MinHash sig.

    rows_per_band = num_hashes/bands. Candidates estimate Jaccard via
    matching signature slots (est = matches/num_hashes). At scale the
    band join replaces the quadratic all-pairs comparison.

    ``hash_mode="md5"`` makes the whole operator deterministic across
    engines: signatures use the portable seeded hash and the band join
    keys on the raw slot tuple (no band re-hash → no collision risk),
    so the output is exactly reproducible in SQL for oracle checking.
    """
    assert num_hashes % bands == 0
    rpb = num_hashes // bands
    mh_cols = [f"mh_{i}" for i in range(num_hashes)]
    # signatures as ONE array column, persisted: used three times
    # (banding + two post-candidate re-joins) — one shingle pass total.
    # At corpus scale this table is num_docs × (8·num_hashes) bytes;
    # memory-and-disk persistence spills gracefully.
    # fresh_persist: evict any entry a previous construction of
    # the same plan left in the CacheManager — each construction
    # recomputes the signatures from the source (no cross-run cache).
    sig = fresh_persist(
        minhash_signatures(df, n, num_hashes, text_col, id_col, hash_mode)
        .select(id_col, F.array(*mh_cols).alias("sig"))
    )

    def _band_key(b: int):
        slots = [F.element_at("sig", b * rpb + r + 1) for r in range(rpb)]
        if hash_mode == "md5":
            # portable mode: key on the slot tuple itself — exact,
            # engine-independent (rpb longs per row vs 1; still slim)
            return F.array(*slots)
        return F.array(F.xxhash64(*slots))

    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), _band_key(b).alias("bh"))
            for b in range(bands)
        ]
    )
    # the band join carries ONLY (id, band, band-hash) — candidate
    # shuffle rows stay slim; full signatures re-join after dedup
    # (round-1 carried 2·num_hashes longs per candidate row)
    banded = sig.select(id_col, F.explode(band_structs).alias("_b")).select(
        id_col, F.col("_b.band").alias("band"), F.col("_b.bh").alias("bh")
    )
    cand = (
        banded.select(F.col(id_col).alias("a"), "band", "bh")
        .join(banded.select(F.col(id_col).alias("b"), "band", "bh"), ["band", "bh"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(sig.select(F.col(id_col).alias("a"), F.col("sig").alias("sig_a")), "a")
        .join(sig.select(F.col(id_col).alias("b"), F.col("sig").alias("sig_b")), "b")
        .select("a", "b", (matches / F.lit(float(num_hashes))).alias("est_jaccard"))
    )


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 8,
    line_split: str | None = None,
) -> DataFrame:
    """Corpus-wide span-level dedup (the C4 recipe generalized): split
    each document into spans, drop every span whose exact text occurred
    earlier in the corpus (first occurrence by ``(doc_id, span_idx)``
    wins), and reassemble the surviving text.

    ``line_split`` splits on a separator (C4 used lines); the default
    chunks the token stream into fixed ``span_tokens``-token spans
    (non-overlapping, so reassembly is unambiguous).

    Scale shape: posexplode → per-span winner via ``min(struct(id,
    idx))`` **aggregation** (NOT a row_number window: partial
    aggregation collapses a boilerplate span duplicated 10⁹ times to
    one row per map task before the shuffle, and the winner join's
    remaining hot keys are AQE-splittable — a sort-window partition is
    neither) → winner join back → one groupBy ``doc_id`` to
    reassemble. Returns ``(doc_id, n_spans, n_kept, text_clean)``.
    """
    if line_split is not None:
        spans = F.split(F.col(text_col), line_split)
    else:
        k = int(span_tokens)
        spans = F.expr(
            f"transform(sequence(0, cast(ceil(size(_sd_toks) / {k}.0) as int) - 1), "
            f"i -> concat_ws(' ', slice(_sd_toks, i * {k} + 1, {k})))"
        )
    # The exploded span frame feeds TWO branches (the winner aggregate
    # and the join's probe side); without materialization the
    # scan+tokenize+explode ran twice (AQE replanning defeats
    # ReusedExchange). Map-only, so the cache builds
    # with no partitioning consequences; fresh_persist evicts any
    # previous construction's entry (no cross-run cache), lineage
    # kept. Interleaved A/B at sf0.1: 0.85 → 0.71 s best-of-4, wins
    # every round, rows identical.
    exploded = fresh_persist(
        df.select(
            F.col(id_col),
            F.col(text_col),
            tokens_col(F.col(text_col)).alias("_sd_toks"),
        )
        .select(F.col(id_col), F.posexplode(spans).alias("span_idx", "span"))
    )
    winners = exploded.groupBy("span").agg(
        F.min(F.struct(F.col(id_col), F.col("span_idx"))).alias("_w")
    )
    kept = exploded.join(winners, "span").withColumn(
        "_keep",
        (F.col(id_col) == F.col("_w")[id_col])
        & (F.col("span_idx") == F.col("_w")["span_idx"]),
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("_keep").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_keep"),
                                F.struct("span_idx", "span"),
                            )
                        )
                    ),
                    lambda s: s["span"],
                ),
                " ",
            ).alias("text_clean"),
        )
    )


def dedup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over near-duplicate pairs: ``(id,
    cluster_id)`` where ``cluster_id`` is the minimum doc id reachable
    through the pair graph — the step that turns pairwise similarity
    into dedup groups (keep ``id == cluster_id``, drop the rest).

    Iterative min-label propagation: each round is one join + one
    map-side-combining groupBy, stopping when no label changes. Rounds
    needed ≈ cluster diameter — near-dup clusters are tiny (chains of
    a few docs), so this converges in 2–4 rounds regardless of corpus
    size; every round is shuffle-bounded by |edges|, never all-pairs.
    Deterministic (min id), so the DuckDB recursive-CTE oracle
    reproduces it exactly.

    Lineage discipline: iterative DataFrame algorithms grow their
    logical plan per round (the unrolled history re-analyzes on every
    action — plans reached thousands of Exchange nodes before this
    was truncated). Each round's labels are ``localCheckpoint``-ed
    (eager, executor-local storage, O(|vertices in pairs|) — tiny
    relative to the corpus), so the returned frame's plan is one
    round deep no matter how many rounds ran.
    """
    edges = pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
    edges = (
        edges.union(edges.select(F.col("y").alias("x"), F.col("x").alias("y")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("x").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("id", "y"), "y")
            .groupBy("x")
            .agg(F.min("label").alias("nlabel"))
            .withColumnRenamed("x", "id")
        )
        new_labels = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nlabel", F.col("label"))).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document.

    Token hash bits vote ±1 weighted by token frequency; the signature
    packs the sign of each bit-sum. Computed as ``bits`` conditional-sum
    aggregates in one groupBy — a single pass, no Python.

    ``hash_mode="md5"`` draws the 64 token-hash bits from the md5 hex
    digest (two 32-bit halves, chars 1-8 and 9-16) instead of
    ``xxhash64`` — bit-identical in any SQL engine, which makes the
    operator oracle-checkable (same portability trick as MinHash's
    affine scheme above). Same plan shape either way: the hash is a
    Column expression, one shuffle total.
    """
    tok = df.select(
        F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("tok")
    )
    if hash_mode == "xxhash64":
        tok = tok.withColumn("h", F.xxhash64("tok"))

        def _bit(i: int):
            return F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))

    elif hash_mode == "md5":
        tok = tok.withColumn(
            "h_lo", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
        ).withColumn(
            "h_hi", F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10).cast("long")
        )

        def _bit(i: int):
            src = "h_lo" if i < 32 else "h_hi"
            return F.shiftright(F.col(src), i % 32).bitwiseAND(F.lit(1))

    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    bit_aggs = [
        F.sum(F.when(_bit(i) == 1, 1).otherwise(-1)).alias(f"s_{i}")
        for i in range(bits)
    ]
    sums = tok.groupBy(id_col).agg(*bit_aggs)
    sig = None
    for i in range(bits):
        bit = F.when(F.col(f"s_{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig.bitwiseOR(term)
    return sums.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Block on (max_hamming+1) signature bands — by pigeonhole, any pair
    within the distance shares at least one exact band, so the join is
    band-keyed, not all-pairs. ``hash_mode="md5"`` selects the
    engine-portable token hash (see :func:`simhash`) so the full
    operator — signatures, banding, Hamming filter — is reproducible
    in SQL for oracle checking.
    """
    nbands = max_hamming + 1
    width = 64 // nbands
    sig = simhash(df, text_col, id_col, hash_mode=hash_mode)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("bh"),
            )
            for b in range(nbands)
        ]
    )
    banded = sig.select(id_col, "simhash", F.explode(bands).alias("_b")).select(
        id_col, "simhash", F.col("_b.band").alias("band"), F.col("_b.bh").alias("bh")
    )
    left = banded.select(F.col(id_col).alias("a"), F.col("simhash").alias("sig_a"), "band", "bh")
    right = banded.select(F.col(id_col).alias("b"), F.col("simhash").alias("sig_b"), "band", "bh")
    cand = (
        left.join(right, ["band", "bh"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "sig_a", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def repeated_span_ranges(
    df: DataFrame,
    k: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Substring-level duplicate spans (the Lee-et-al "Deduplicating
    Training Data" shape at window granularity): every k-token sliding
    window is hashed; windows whose hash appears in ≥ ``min_docs``
    distinct documents are duplicate material, and per document the
    flagged windows merge into maximal token ranges
    ``[span_start, span_end)`` ready for excision.

    Distinct from :func:`span_dedup` (exact whole-line dedup): this
    finds repeated regions ANYWHERE inside the text, boilerplate that
    line splitting misses.

    Scale shape: windows explode map-side (bounded fanout: one row per
    token); ONE shuffle keyed by window hash computes the distinct-doc
    counts (map-side partial agg); a semi-join flags the windows, and
    the interval merge is a per-document gaps-and-islands window (no
    further corpus-wide shuffle beyond the doc key). md5 window hashes
    keep every stage engine-portable.
    """
    toks = _normalized(F.col(text_col))
    base = df.select(F.col(id_col).alias("_id"), F.split(toks, " ").alias("_t"))
    wins = base.select(
        "_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, greatest(size(_t), {k}) - {k} + 1), "
                f"i -> md5(concat_ws(' ', slice(_t, i, {k}))))"
            )
        ).alias("pos", "wh"),
    )
    dup = (
        wins.groupBy("wh")
        .agg(F.countDistinct("_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
    )
    flagged = wins.join(dup.select("wh"), "wh", "left_semi")
    w = W.partitionBy("_id").orderBy("pos")
    isl = (
        flagged.withColumn("_prev", F.lag("pos").over(w))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull() | (F.col("pos") - F.col("_prev") > k), 1
            ).otherwise(0),
        )
        .withColumn(
            "_isl",
            F.sum("_new").over(w.rowsBetween(W.unboundedPreceding, 0)),
        )
    )
    return (
        isl.groupBy(F.col("_id").alias(id_col), "_isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(id_col, "span_start", "span_end", "n_windows")
    )
