"""Deterministic sampling / splitting / decontamination for training-
data pipelines. Everything here is HASH-deterministic — no RNG, no
sampleBy — so splits are reproducible across runs, engines, partition
counts, and cluster sizes, and a given doc_id always lands in the same
split even when the corpus grows (the property training pipelines
actually need; Spark's df.sample cannot give it).

Scale posture: a hash split is a narrow projection + filter (no
shuffle at all); decontamination is one explode + one equi-join on a
64-bit hash of the shingle + one aggregate — the join key is a
uniformly distributed long, so no skew handling is needed, and the
eval side is a few percent of the corpus but NOT broadcast (at 100 TB
even 1% is too big; AQE picks the strategy per actual size).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fuse_query_spark.operators.dedup import _shingle_table
from fuse_query_spark.sources.tables import local_rows


def hash_bucket(col: Column | str, buckets: int = 100) -> Column:
    """Uniform deterministic bucket in [0, buckets): integer value of
    the first 8 hex chars of md5(value). md5 is available in every
    engine (portable to the DuckDB oracle, unlike xxhash64)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("bigint") % buckets)


def deterministic_split(
    df: DataFrame, id_col: str = "doc_id", train: int = 90, val: int = 5
) -> DataFrame:
    """Adds a `split` column: train/val/test by md5-hash bucket of the
    id — stable under corpus growth and re-partitioning."""
    b = hash_bucket(id_col)
    return df.withColumn(
        "split",
        F.when(b < train, "train").when(b < train + val, "val").otherwise("test"),
    )


def _shingle_hashes(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(_id, _h) rows: xxhash64 of every distinct word n-gram per doc.
    Single source of truth for both decontamination variants — the
    bloom-prefiltered path's bit-equality with the exact path (tested)
    depends on them sharing this construction."""
    return (
        _shingle_table(df, text_col, id_col, n)
        .select("_id", F.explode("_sh").alias("_s"))
        .select("_id", F.xxhash64("_s").alias("_h"))
    )


def contaminated_ids(
    corpus: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
) -> DataFrame:
    """Benchmark decontamination: ids of corpus docs sharing at least
    one word n-gram with any eval doc, with the count of distinct
    shared n-grams. Standard training-data hygiene (the reference has
    no such operator; built on the same shingle machinery as the
    n-gram dedup family).

    The join and the count run on `xxhash64(shingle)` longs, never the
    raw ~30-byte shingle strings: the shuffle rows and join hash
    tables shrink ~8× (this query was the r2 suite's dominant,
    high-variance cost purely from string-key GC pressure). Equal to
    the string-keyed answer modulo 64-bit hash collisions — odds
    ~(distinct shingles)²/2⁶⁵, negligible at any corpus size that fits
    a cluster — and the DuckDB oracle still counts distinct raw
    strings, so the hash path is independently cross-checked.

    The per-doc count is a plain COUNT, not COUNT(DISTINCT):
    shingles_from_tokens is array_distinct per doc, so (_id, _h) is
    already unique (again modulo 64-bit collisions) and the joined
    rows carry at most one row per (doc, shared shingle). Spark plans
    a grouped COUNT(DISTINCT) as an extra full shuffle on (_id, _h)
    plus a dedup hash map before the real aggregate — at 100 TB that
    is the single most expensive stage of the query, spent
    re-deriving an invariant the shingle builder already guarantees
    (and it halved the sf0.1 wall time when dropped)."""
    c_sh = _shingle_hashes(corpus, text_col, id_col, n)
    e_sh = _shingle_hashes(eval_set, text_col, id_col, n).select("_h").distinct()
    return (
        c_sh.join(e_sh, "_h")
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .select(F.col("_id").alias(id_col), "n_shared")
    )


def contaminated_ids_bloom(
    corpus: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    prefix_bits: int = 20,
    adaptive: bool = False,
) -> DataFrame:
    """contaminated_ids with a Bloom-style broadcast prefilter in
    front of the exact join. Same answer, bit for bit — the prefilter
    only discards rows the exact join would discard anyway.

    Why not Catalyst's runtime bloom filter
    (spark.sql.optimizer.runtime.bloomFilter.enabled, on in
    session.tune): InjectRuntimeFilter pushes might_contain() onto
    the application side's SCAN, so it requires the join key to have
    scan-column lineage — the shingle key here is born inside an
    explode(transform(split(...))), which has none. This operator is
    the same idea expressed one level up: the eval side's DISTINCT
    top-`prefix_bits` hash prefixes (a single-hash Bloom filter with
    2^prefix_bits buckets, materialized as at most 2^prefix_bits
    longs ≈ 8 MB — broadcastable regardless of eval-set size) are
    broadcast-semi-joined onto the corpus shingles BEFORE the shuffle
    join. Corpus shingles whose bucket no eval shingle occupies —
    the overwhelming majority when the eval set is benchmark-sized —
    die map-side, never reaching the exchange. At 100 TB that turns
    the dominant shuffle from all-corpus-shingles into
    matching-bucket-shingles (~eval coverage + bucket collisions).

    The prefilter is ADAPTIVE: a cheap upper-bound estimate of the
    eval side's distinct shingles (one token-count scan — shingles
    per doc are at most tokens - n + 1, no explode/distinct needed)
    gates it. When the estimate says the bucket set would saturate
    (> half of 2^prefix_bits), the prefilter can no longer reject
    much — and a ~1M-row broadcast probed per corpus shingle is pure
    overhead — so the operator falls back to the exact plan without
    ever building the bucket set. Measured (tools/scaling_probe.py
    at 256x replication): unconditional prefiltering went 1.7x
    SUPER-linear exactly at saturation (94.7 s vs the exact path's
    56.5 s), while at 64x — buckets sparse — it beat the exact path
    (14.0 s vs 16.6 s). The estimate errs conservative (it can only
    skip the prefilter early, never keep a useless one).

    The gate is EAGER — adaptive=True runs one small Spark job over
    the eval side AT DATAFRAME-CONSTRUCTION TIME (like AQE, adapting
    needs a statistic; a declarative plan cannot switch join branches
    on data). Because an eager job inside a constructor surprises
    lazily-composing callers (ADVICE r4), adaptive defaults to FALSE:
    the default build is fully lazy and pins the prefilter
    unconditionally. Pass adaptive=True when the eval set's size is
    unknown and saturation is a real risk (the measured 1.7x
    super-linear regime below).

    The eval-side shingle pipeline feeds two plan branches (the bucket
    set and the confirm join); Spark computes it twice. Deliberate:
    the eval side is the SMALL side by assumption, and a persist()
    here would trade a cheap recompute for cache-manager state the
    caller never asked for. The shared _shingle_hashes construction
    is what guarantees bit-equality with contaminated_ids."""
    from fuse_query_spark.operators.text import token_count

    shift = 64 - prefix_bits
    c_sh = _shingle_hashes(corpus, text_col, id_col, n)
    e_sh = _shingle_hashes(eval_set, text_col, id_col, n).select("_h").distinct()
    est = 0
    if adaptive:
        # upper bound on distinct eval shingles: per doc at most
        # token_count - (n-1) of them (same tokenization the shingle
        # builder uses, via the shared helper)
        est = (
            eval_set.select(
                F.sum(F.greatest(token_count(text_col) - (n - 1), F.lit(0)))
            ).first()[0]
            or 0
        )
    if est > (1 << prefix_bits) // 2:  # would saturate: prefilter can't reject
        probe = c_sh
    else:
        e_buckets = e_sh.select(F.shiftrightunsigned("_h", shift).alias("_b")).distinct()
        probe = c_sh.join(
            F.broadcast(e_buckets),
            F.shiftrightunsigned(c_sh["_h"], shift) == e_buckets["_b"],
            "left_semi",
        )
    return (
        probe.join(e_sh, "_h")
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .select(F.col("_id").alias(id_col), "n_shared")
    )


def temperature_quotas(
    df: DataFrame,
    source_col: str = "source",
    weight_col: str = "n_chars",
    alpha: float = 0.5,
    total_out: int = 200,
    id_col: str = "doc_id",
    cut: str = "exact",
) -> DataFrame:
    """Temperature-weighted source mixing (the standard training-data
    recipe: sample source s proportional to weight_s^alpha, alpha<1
    flattening the head so small sources aren't drowned). Weight is
    the source's total chars; quotas are floor(total_out * w^a / sum)
    — all-deterministic double math, no RNG. Per-source doc picks are
    md5-rank ordered (same stable hash order as deterministic_split),
    so the same doc set is chosen at any partition count or corpus
    shard order. Scale: one partial/final aggregate for the weights
    (tiny — #sources rows), a broadcast of the quota table back onto
    the corpus, and — with the default cut="exact" — ONE window rank
    per source partition. source_col is LOW-cardinality by
    construction, so that per-source window is a HOT-PARTITION sort at
    crawl scale (one task sorts an entire multi-TB source —
    code-review r8): pass cut="approx" for the 100 TB path, which
    replaces the rank with a per-source CLOSED-FORM hash threshold
    (quota/n of the uniform 32-bit md5 range — a pure filter, fully
    distributed; quota counts then hold within ~sqrt(quota) Binomial
    noise instead of exactly — the same exact/approx twin contract as
    dsir_select and perplexity_bands)."""
    from pyspark.sql.window import Window

    if cut not in ("exact", "approx"):
        raise ValueError(f"cut must be 'exact' or 'approx', got {cut!r}")
    weights = (
        df.groupBy(source_col)
        .agg(F.sum(weight_col).cast("double").alias("_w"))
        .withColumn("_wa", F.pow("_w", F.lit(float(alpha))))
    )
    total_wa = weights.agg(F.sum("_wa").alias("_t"))
    quotas = weights.crossJoin(F.broadcast(total_wa)).select(
        source_col,
        F.floor(F.lit(float(total_out)) * F.col("_wa") / F.col("_t")).cast("bigint").alias("quota"),
    )
    if cut == "approx":
        # the 32-bit md5 prefix (hash_bucket's projection) is uniform
        # on [0, 2^32), so the quota-th smallest hash of a source with
        # n docs sits at ~(quota/n)*2^32 — the threshold is CLOSED
        # FORM, no percentile sketch and no per-source sort; selection
        # is a pure filter and n_sampled concentrates at quota with
        # sd ~ sqrt(quota) (Binomial thinning). One tiny counts agg +
        # one broadcast join replaces the hot-partition window.
        counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
        thr = quotas.join(counts, source_col).select(
            source_col,
            "quota",
            (F.least(F.col("quota") / F.col("_n"), F.lit(1.0)) * F.lit(float(2**32)))
            .cast("bigint")
            .alias("_thr"),
        )
        hnum = F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("bigint")
        picked = df.join(F.broadcast(thr), source_col).filter(hnum <= F.col("_thr"))
        return picked.groupBy(source_col, "quota").agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum(weight_col).cast("bigint").alias("sum_chars"),
            F.min(id_col).alias("first_doc"),
        )
    w = Window.partitionBy(source_col).orderBy(F.md5(F.col(id_col).cast("string")), id_col)
    ranked = df.withColumn("_rk", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(quotas), source_col)
        .filter(F.col("_rk") <= F.col("quota"))
        .groupBy(source_col, "quota")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum(weight_col).cast("bigint").alias("sum_chars"),
            F.min(id_col).alias("first_doc"),
        )
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    train: int = 90,
    val: int = 5,
    labels: DataFrame | None = None,
    n_labels: int | None = None,
) -> DataFrame:
    """Train/val/test split with GROUP integrity: documents connected
    by near-dup pairs (any pair source — MinHash/LSH, SimHash,
    embedding-cosine) are resolved to components and the split bucket
    is keyed on the COMPONENT id, so a near-duplicate can never
    straddle train and test — the standard guard against eval
    contamination by near-dups (a doc-keyed split leaks ~pair_rate of
    eval into training). Singleton docs key on their own id, which
    equals the component id they'd get as 1-node components.

    Scale shape: connected_components' O(log diameter) rounds over the
    pair set, one LEFT join of docs to component labels, then the same
    narrow md5-bucket projection as deterministic_split. The label join
    is SIZE-GATED: at crawl scale near-dup pairs routinely cover 30-50%
    of documents, so the label table can be billions of rows — a forced
    broadcast there is a driver/executor OOM. The label count rides
    CC's own convergence agg (return_count=True — zero extra jobs);
    below the broadcast threshold we hint broadcast, above it we take
    the plain shuffle join on the uniform doc-id key (no skew — ids
    are unique on the docs side and near-unique on the label side).

    `labels`/`n_labels`: optionally pass a precomputed
    connected_components result (+ its node count for the broadcast
    gate) so composed pipelines don't rerun the iterative CC job per
    operator (code-review r8)."""
    from fuse_query_spark.operators.dedup import connected_components

    if labels is None:
        cc, n_labels = connected_components(pairs, id_col=id_col, return_count=True)
        labels = cc.select(id_col, "component")
    else:
        labels = labels.select(id_col, "component")
        if n_labels is None:
            n_labels = labels.count()
    spark = docs.sparkSession
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    try:  # handles '10MB'/'10485760b'/'-1' uniformly
        threshold = int(spark._jvm.org.apache.spark.util.Utils.byteStringAsBytes(raw))
    except Exception:
        threshold = -1 if raw.strip().startswith("-") else 10 * 1024 * 1024
    # ~16 bytes/row (two longs) + row overhead; stay inside the same
    # budget AQE would use
    if threshold > 0 and n_labels * 32 <= threshold:
        labels = F.broadcast(labels)
    d = docs.join(labels, id_col, "left").withColumn(
        "group_key", F.coalesce("component", F.col(id_col))
    )
    b = hash_bucket("group_key")
    return d.withColumn(
        "split",
        F.when(b < train, "train").when(b < train + val, "val").otherwise("test"),
    )


def dsir_select(
    df: DataFrame,
    n_buckets: int = 512,
    alpha: float = 1.0,
    select_frac: float = 0.1,
    stop_frac: float = 0.07,
    text_col: str = "text",
    id_col: str = "doc_id",
    ndigits: int = 4,
    cut: str = "exact",
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
    score every document by how much more likely its hashed n-gram
    features are under a TARGET distribution than under the RAW corpus
    distribution, then keep the top `select_frac` — the published recipe
    for "select web data that looks like my target domain" at corpus
    scale, using hashed bag-of-ngrams generative models instead of a
    trained classifier.

    Features: unigrams AND bigrams, md5-hashed into `n_buckets` shared
    buckets (the paper's hashing trick — no vocabulary to build or
    broadcast). The target here is intrinsic — documents whose
    English-stopword density is >= `stop_frac` (a deterministic stand-in
    for "a sample of the target domain"; real pipelines pass a target
    corpus) — so the whole path is engine-portable and hash-verified.
    Per-feature log-ratio: ln((c_tgt+a)/(T_tgt+a*B)) -
    ln((c_raw+a)/(T_raw+a*B)) (Laplace-smoothed, so buckets unseen in
    the target stay finite). Per-doc log-weight: sum of tf * log-ratio.

    Scale shape: feature counts are two map-side-combinable hash aggs;
    the log-ratio table is AT MOST `n_buckets` rows — broadcast to the
    per-doc tf table, so scoring is join-free at the shuffle level; the
    selection cut is a single window over DOC-level rows (billions,
    not trillions — one shuffle of (doc_id, score) pairs); at 100 TB
    pass cut="approx" — one approx_percentile pass picks the score
    threshold, no global sort, same semantics minus tie-exactness
    (tested to agree with the exact cut within sketch accuracy). No
    driver
    state, no RNG: resampling noise is omitted in favor of the
    deterministic top-k cut so the output is reproducible and
    oracle-checkable.

    Returns (id_col, n_feat, logw_r, selected)."""
    from fuse_query_spark.operators.dedup import md5_int32
    from fuse_query_spark.operators.text import STOPWORDS, ngrams_from_tokens, tokens

    from pyspark.sql import Window

    from fuse_query_spark.sources.tables import spread

    # r12 front-end (A/B-adjudicated over four formulations,
    # OPTIMIZATION_r12.md "dsir re-measure"): spread + checkpoint the
    # narrow (id, text) projection — NOT the token-array table, whose
    # checkpoint materializes per-token string overhead and measured
    # SLOWER than no optimization at all — and let each consumer
    # tokenize lazily in parallel from the checkpointed text. The
    # spread+checkpoint is gated on the scan actually under-splitting
    # (the one-row-group corpus shape, guide §2.5); past the gate
    # (>= cores partitions — the 100 TB case) the plain projection is
    # used: three parallel column-pruned tokenize passes beat
    # checkpointing a corpus-sized text table into block storage.
    # NOTE: the gate calls .rdd on the (id, text) projection; with a
    # near-scan input (the registry's case) that only PLANS the scan.
    # Callers passing a derived DataFrame with upstream exchanges
    # would eagerly execute those AQE stages here — pass a
    # materialized or near-scan input to dsir_select.
    spark = df.sparkSession
    base = df.select(id_col, text_col)
    t = tokens(text_col)
    # target predicate as an ARRAY expression — size(filter(lower(x) in
    # stop))/size over the token array replaces the previous
    # explode+groupBy density aggregation: one full shuffle of every
    # token row removed at EVERY scale, identical semantics (explode of
    # the same array; the empty-array doc is excluded either way —
    # no group vs NULL density, and 0/0 -> NULL -> a NULL flag that
    # every filter form drops). The flag is stamped on the narrow
    # projection BEFORE the checkpoint (r13, interleaved A/B 0.86-0.94
    # across three sessions), so (a) the separate target_ids tokenize
    # pass over the corpus disappears (the checkpoint build tokenizes
    # once instead), and (b) the flag rides the dtf aggregate as a
    # grouping column that is CONSTANT per doc — the target-side
    # feature counts become a filtered scan of the dtf checkpoint
    # instead of a dtf JOIN target_ids shuffle join over every
    # (doc, feature) row. One boolean per row on the wire; at 100 TB
    # the join this removes is doc×feature sized.
    stop = list(STOPWORDS["en"])
    is_target = (
        F.size(F.filter(t, lambda x: F.lower(x).isin(stop))).cast("double") / F.size(t)
    ) >= stop_frac
    base = base.select(id_col, text_col, is_target.alias("_tgt"))
    if base.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        d2 = spread(base, id_col).localCheckpoint(eager=True)
    else:
        d2 = base
    carry = [id_col, "_tgt"]
    # r13 (interleaved A/B 0.86x/0.90x across two sessions, rows
    # identical): unigram and bigram features hash through the SAME
    # md5_int32 % n_buckets, so one explode of tokens ++ bigrams
    # yields the identical feature multiset in ONE pass over the
    # checkpoint instead of two exploded scans glued by a union —
    # at 100 TB that is one full corpus read fewer. The per-row
    # tokenize count is unchanged (1 + the documented n+1 of
    # ngrams_from_tokens, exactly what the two branches paid).
    feats = d2.select(
        *carry,
        F.explode(F.concat(t, ngrams_from_tokens(t, 2))).alias("_x"),
    ).select(*carry, (md5_int32(F.col("_x")) % n_buckets).alias("_f"))
    # dtf feeds THREE consumers (raw counts, target counts, scoring);
    # without materialization Catalyst re-runs the tokenize+md5 explode
    # per consumer — the recompute class the scaling probe caught here
    # at 4x (131 s -> see SCALE.md r6) and previously in
    # minhash_containment_pairs (r5 probe catch #3). localCheckpoint,
    # not persist: checkpoint blocks are released by the ContextCleaner
    # when the returned DataFrame is GC'd, whereas a persist() pins the
    # plan in the CacheManager until someone calls unpersist — and this
    # function hands the caller no handle to do so (long-lived sessions
    # were accumulating cached blocks across calls).
    dtf = (
        feats
        .groupBy(*carry, "_f")
        .agg(F.count(F.lit(1)).alias("_tf"))
        .localCheckpoint(eager=True)
    )
    # r13 (interleaved A/B 0.85x/0.96x across two sessions, rows
    # identical): BOTH per-bucket counts in ONE aggregation pass over
    # the dtf checkpoint — the raw count is the unconditional sum, the
    # target count the conditional sum over the _tgt rows (when with
    # no otherwise sums exactly the filtered rows, NULL for a bucket
    # with none — the same NULL the previous raw LEFT JOIN tgt
    # produced, coalesced to 0 below). One dtf scan + one shuffle
    # instead of two of each plus a join back on the bucket key.
    # counts feeds totals AND the log-ratio projection, so the
    # <= n_buckets-row table is persisted for the duration of the
    # collect (the insurance the two-pass form bought for raw/tgt);
    # unpersisted before returning, so no blocks outlive the call.
    counts = dtf.groupBy("_f").agg(
        F.sum("_tf").alias("_c_raw"),
        F.sum(F.when(F.col("_tgt"), F.col("_tf"))).alias("_c_tgt"),
    ).persist()
    totals = counts.agg(
        F.sum("_c_raw").alias("_t_raw"), F.sum("_c_tgt").alias("_t_tgt")
    )
    lr_lazy = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "_f",
            (
                F.log(
                    (F.coalesce(F.col("_c_tgt"), F.lit(0)) + F.lit(alpha))
                    / (F.col("_t_tgt") + F.lit(alpha * n_buckets))
                )
                - F.log(
                    (F.col("_c_raw") + F.lit(alpha))
                    / (F.col("_t_raw") + F.lit(alpha * n_buckets))
                )
            ).alias("_lr"),
        )
    )
    # an empty target set leaves _t_tgt NULL -> every _lr NULL -> the
    # same loud ValueError below as the two-pass form raised
    lr_rows = lr_lazy.collect()
    counts.unpersist()
    if not lr_rows or all(r["_lr"] is None for r in lr_rows):
        # empty target set (no doc meets stop_frac): every log-ratio is
        # NULL and the downstream cut would present an ARBITRARY
        # id-ordered selection as DSIR output (code-review r8) — fail
        # loudly instead
        raise ValueError(
            "dsir_select: target set is empty (no document meets "
            f"stop_frac={stop_frac}); lower stop_frac or check the corpus language"
        )
    lr = local_rows(df.sparkSession, lr_rows, lr_lazy.schema)
    scored = (
        dtf.join(F.broadcast(lr), "_f")
        .groupBy(id_col)
        .agg(
            F.sum("_tf").alias("n_feat"),
            F.round(F.sum(F.col("_tf") * F.col("_lr")), ndigits).alias("logw_r"),
        )
    )
    if cut == "approx":
        # the 100 TB path: one approx_percentile pass picks the score
        # threshold (no global sort of doc rows); the cut lands within
        # quantile-sketch accuracy of select_frac instead of exactly
        # ceil(frac*n) — the trade every production selection makes
        thresh = scored.agg(
            F.percentile_approx(
                "logw_r", F.lit(1.0 - select_frac), F.lit(10000)
            ).alias("_thr")
        )
        return scored.crossJoin(F.broadcast(thresh)).select(
            id_col,
            "n_feat",
            "logw_r",
            (F.col("logw_r") >= F.col("_thr")).cast("int").alias("selected"),
        )
    # exact cut: deterministic top-frac on the ROUNDED score (ties by
    # id) so the boundary is engine-portable — one global window over
    # doc-level rows. The doc count comes from a count() over an
    # unbounded frame of the SAME window sort (one WindowExec, no
    # extra shuffle) — the previous separate scored.agg(count) +
    # crossJoin recomputed the whole dtf-join-aggregate subtree a
    # second time (r13; measured as ~half of the cut stage).
    w = Window.orderBy(F.col("logw_r").desc(), F.col(id_col))
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return scored.select(
        id_col,
        "n_feat",
        "logw_r",
        (
            F.row_number().over(w)
            <= F.ceil(F.lit(select_frac) * F.count(F.lit(1)).over(w_all))
        )
        .cast("int")
        .alias("selected"),
    )
