"""Corpus preparation operators for training-data pipelines: chunking,
sequence packing, deterministic sampling, mixture weighting, corpus stats.

All pure built-in expressions (no UDFs) and all *deterministic* - sampling
uses md5-derived hashes instead of RNGs so every run (and the DuckDB oracle)
selects exactly the same rows; at 100 TB that also means samples are
reproducible across retries and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from aliyun_maxcompute_data_collectors_spark.operators.text import token_count, tokens


# ---------------------------------------------------------------------------
# chunking: one document -> fixed-size token windows
# ---------------------------------------------------------------------------

def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 128,
    stride: int | None = None,
) -> DataFrame:
    """Split each document into token windows of ``chunk_tokens`` (optionally
    overlapping via ``stride`` < chunk_tokens).  Output: (id, chunk_idx,
    chunk_text, n_chunk_tokens).

    Narrow per-row transform (split -> slice windows -> explode); the explode
    amplifies rows ~len/stride so the usual fan-out guidance applies."""
    stride = stride or chunk_tokens
    words = tokens(text_col)
    n = F.size(words)
    n_chunks = F.greatest(F.ceil((n - chunk_tokens) / stride) + 1, F.lit(1)).cast("int")
    idx = F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx")
    out = df.select(F.col(id_col).alias("id"), words.alias("__w__"), idx)
    piece = F.slice(out["__w__"], F.col("chunk_idx") * stride + 1, chunk_tokens)
    return out.select(
        "id", "chunk_idx",
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).alias("n_chunk_tokens"),
    )


# ---------------------------------------------------------------------------
# sequence packing: greedy fill of fixed context windows
# ---------------------------------------------------------------------------

def pack_sequences(
    df: DataFrame,
    id_col: str,
    len_col: str,
    budget: int,
    order_col: str | None = None,
) -> DataFrame:
    """APPROXIMATE context-window packing: documents are laid out
    contiguously in ``order_col`` order and cut into ``budget``-token spans
    by a window cumsum; a document straddling a span boundary joins the span
    its end falls in, so a bin may exceed the budget by up to one document
    (bounded: bin total < 2 x budget; lengths are capped at budget first).

    Fully deterministic and SQL-expressible - the cheap path when downstream
    tolerates slack.  For the strict invariant (no bin over budget) use
    :func:`greedy_pack`.

    The global cumsum is computed DISTRIBUTED (a naive
    ``Window.orderBy(order)`` funnels the whole corpus through one
    partition): range-partition on the order key, cumsum within each
    partition, then add per-partition prefix offsets - the offsets are
    `numPartitions` rows of metadata computed on the driver (the same scale
    of driver work Spark's own range partitioner does when sampling
    boundaries).  The result is boundary-placement-independent, so the
    sampled range partitioning does not affect values.

    Output adds ``bin_id`` and ``bin_offset`` (running tokens before the doc
    within its bin)."""
    order = order_col or id_col
    capped = F.least(F.col(len_col), F.lit(budget))
    part = (
        df.repartitionByRange(F.col(order))
        .withColumn("__pid__", F.spark_partition_id())
    )
    wp = (Window.partitionBy("__pid__").orderBy(order)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    local = part.withColumn("__lcum__", F.sum(capped).over(wp))
    totals = sorted(
        (r["__pid__"], r["t"]) for r in
        local.groupBy("__pid__").agg(F.max("__lcum__").alias("t")).collect()
    )
    offsets, running = [], 0
    for pid, tot in totals:
        offsets.append((pid, running))
        running += tot
    off_col = F.lit(0).cast("long")
    if offsets:
        pairs = [x for pid, off in offsets for x in (F.lit(pid), F.lit(off))]
        off_col = F.coalesce(
            F.create_map(*pairs)[F.col("__pid__")].cast("long"), F.lit(0).cast("long"))
    out = local.withColumn("__cum__", (off_col + F.col("__lcum__")).cast("long"))
    bin_id = F.ceil(F.col("__cum__") / budget) - 1
    return (
        out.withColumn("bin_id", bin_id.cast("long"))
        .withColumn("bin_offset", (F.col("__cum__") - capped - F.col("bin_id") * budget)
                    .cast("long"))
        .drop("__cum__", "__lcum__", "__pid__")
    )


def greedy_pack(
    df: DataFrame,
    id_col: str,
    len_col: str,
    budget: int,
    n_groups: int = 64,
) -> DataFrame:
    """EXACT first-fit packing: no bin ever exceeds ``budget`` (oversized
    documents are capped into their own bin).  Greedy packing is a sequential
    recurrence, so the corpus is split into ``n_groups`` deterministic hash
    groups, each packed sequentially inside one ``applyInPandas`` task - bins
    never cross groups, and all groups pack in parallel.

    bin_id = group * 2^32 + local bin index (globally unique, stable)."""
    import pandas as pd

    grouped = df.withColumn(
        "__grp__", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_groups)).cast("int")
    )
    schema_str = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in grouped.schema.fields)
        + ", bin_id long, bin_offset long"
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        grp = int(pdf["__grp__"].iloc[0]) if len(pdf) else 0
        base = grp << 32
        bins, offsets = [], []
        cur_bin, cur_fill = 0, 0
        for ln in pdf[len_col]:
            ln = min(int(ln), budget)
            if cur_fill + ln > budget:
                cur_bin += 1
                cur_fill = 0
            bins.append(base + cur_bin)
            offsets.append(cur_fill)
            cur_fill += ln
        pdf["bin_id"] = pd.Series(bins, dtype="int64")
        pdf["bin_offset"] = pd.Series(offsets, dtype="int64")
        return pdf

    return grouped.groupBy("__grp__").applyInPandas(pack, schema_str).drop("__grp__")


# ---------------------------------------------------------------------------
# deterministic sampling
# ---------------------------------------------------------------------------

def _hash_frac(col: Column, salt: str = "") -> Column:
    """Deterministic [0,1) fraction from md5 (engine-portable)."""
    h = F.conv(F.substring(F.md5(F.concat(col.cast("string"), F.lit(salt))), 1, 8), 16, 10)
    return h.cast("double") / F.lit(float(2 ** 32))


def deterministic_sample(
    df: DataFrame,
    id_col: str,
    fraction: float,
    salt: str = "s42",
) -> DataFrame:
    """Keep ~fraction of rows, chosen by id hash - reproducible across runs,
    engines and cluster sizes (unlike rand()-based sample)."""
    return df.where(_hash_frac(F.col(id_col), salt) < fraction)


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "s42",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. language-balanced corpora)."""
    frac = F.lit(default_fraction)
    for value, p in fractions.items():
        frac = F.when(F.col(stratum_col) == value, F.lit(p)).otherwise(frac)
    return df.where(_hash_frac(F.col(id_col), salt) < frac)


def mixture_rebalance(
    df: DataFrame,
    id_col: str,
    source_col: str,
    targets: dict[str, float],
    salt: str = "s42",
    weight_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Downsample per source so the surviving corpus hits exact mixture
    shares (DoReMi-style static reweighting applied as data selection).

    ``targets`` maps source -> desired share of the FINAL corpus.  The
    largest feasible corpus at that mixture is N* = min_s(count_s/share_s);
    each source keeps ``share_s * N* / count_s`` of its rows (the binding
    source keeps everything), selected by deterministic id-hash so the
    sample is reproducible across runs, engines and cluster sizes.

    ``weight_col`` (e.g. a token count) switches the unit of measure:
    shares then target WEIGHT mass per source (count_s = sum of weights),
    the way real pretraining mixtures are specified in tokens.  Selection
    stays row-level uniform-by-hash, so the realized mass per source
    matches the target in expectation (exact for homogeneous row weights).

    Scale shape: one partial-aggregable count per source, then
    broadcast-joined keep-fractions — the data-sized pass is a single
    map-side filter; nothing shuffles the corpus itself.

    Returns (sampled_df, plan_df) where plan has one row per targeted
    source: (source, n_docs, share, keep_frac)."""
    spark = df.sparkSession
    tgt = spark.createDataFrame(
        [(s, float(sh)) for s, sh in targets.items()], f"{source_col} string, share double")
    unit = (F.count(F.lit(1)) if weight_col is None
            else F.sum(F.col(weight_col).cast("double")))
    # n_rows rides along so absent-from-corpus is distinguishable from
    # present-but-all-NULL-weights: SUM(weight) over all-NULL rows is NULL,
    # identical through the left join to a source with no rows at all, and
    # the two cases deserve different errors (ADVICE r4 #1).
    counts = df.groupBy(source_col).agg(
        unit.alias("n_docs"), F.count(F.lit(1)).alias("n_rows"))
    # ONE dimension-sized collect (<= len(targets) rows) feeds every
    # feasibility check AND the plan: the per-source counts aggregate is a
    # full corpus scan, so probing it once instead of once per check / per
    # plan action saves two extra full scans at scale.
    probed = (tgt.join(counts, source_col, "left")
              .select(source_col, "share", "n_docs", "n_rows").collect())
    # a target source absent from the data makes the mixture infeasible
    # (N* would be 0 or undefined); failing fast beats silently returning a
    # plan that cannot realize the requested shares.
    missing = [r[0] for r in probed if r["n_rows"] is None]
    if missing:
        raise ValueError(
            f"mixture infeasible: target sources {sorted(missing)} have no "
            "rows in the corpus")
    # present but zero/NULL mass (e.g. weight_col all-NULL for the source)
    # routes to the zero-or-undefined message, not the missing one.
    empty = [r[0] for r in probed
             if r["n_docs"] is None or not r["n_docs"] > 0]
    if empty:
        raise ValueError(
            f"mixture infeasible: target sources {sorted(empty)} have zero "
            f"or undefined {'weight mass' if weight_col else 'row count'}")
    nstar = min(float(r["n_docs"]) / r["share"] for r in probed)
    # n_docs keeps its engine type: bigint for row counts, double for
    # weight mass - the plan must hash-match an oracle COUNT(*)/SUM
    ndocs_t = "bigint" if weight_col is None else "double"
    plan = spark.createDataFrame(
        [(r[source_col], r["n_docs"], r["share"],
          min(1.0, r["share"] * nstar / float(r["n_docs"])))
         for r in probed],
        f"{source_col} string, n_docs {ndocs_t}, share double, keep_frac double")
    sampled = (
        df.join(F.broadcast(plan.select(source_col, "keep_frac")), source_col)
        .where(_hash_frac(F.col(id_col), salt) < F.col("keep_frac"))
        .drop("keep_frac")
    )
    return sampled, plan


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col,
    n: int,
    salt: str = "ws42",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement of ``n`` rows (Efraimidis-
    Spirakis A-Res): each row draws key u^(1/w) with u a deterministic
    id-hash uniform; the global top-n keys are the sample.  Heavier rows
    win proportionally more often; the whole draw is reproducible.

    Implemented as ln(u)/w (same argmax ordering, better conditioned) with
    the key rounded to 9 decimals + id tiebreak so both engines rank
    identically.  Global top-n via orderBy+limit = per-partition TakeOrdered
    + driver merge of n*partitions candidate rows — no full sort at scale.
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    # clamp the uniform away from 0: u is a 32-bit hash fraction, so u=0
    # happens ~2^-32 per row - at corpus scale that is a certainty.  Spark
    # ln(0) yields NULL (sorts last under desc: silently drops the row)
    # while DuckDB ln(0) raises; greatest(u, 1e-300) keeps both engines
    # identical and the row merely "extremely unlikely to win".
    u = F.greatest(_hash_frac(F.col(id_col), salt), F.lit(1e-300))
    key = F.round(F.log(u) / F.greatest(w.cast("double"), F.lit(1e-12)), 9)
    return (
        df.withColumn("sample_key", key)
        .orderBy(F.desc("sample_key"), F.asc(id_col))
        .limit(n)
    )


# ---------------------------------------------------------------------------
# corpus statistics
# ---------------------------------------------------------------------------

def corpus_stats(
    df: DataFrame,
    text_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Token/char statistics per group: counts, totals, mean/max lengths and
    token quantiles - the standard pre-training corpus report."""
    n_tok = token_count(text_col)
    return (
        df.withColumn("__nt__", n_tok)
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__nt__").alias("total_tokens"),
            F.round(F.sum("__nt__").cast("double") / F.count(F.lit(1)), 4).alias("mean_tokens"),
            F.max("__nt__").alias("max_tokens"),
            F.min("__nt__").alias("min_tokens"),
            F.round(F.percentile(F.col("__nt__").cast("double"), F.lit(0.5)), 4).alias("p50_tokens"),
            F.round(F.percentile(F.col("__nt__").cast("double"), F.lit(0.95)), 4).alias("p95_tokens"),
        )
    )


def heavy_hitters(
    items: DataFrame,
    item_col: str,
    phi: float,
    capacity: int | None = None,
) -> DataFrame:
    """EXACT items occurring in more than ``phi`` of all rows, computed with
    the bounded-memory two-pass scheme (Misra-Gries candidates + exact
    verification) instead of a full groupBy over every distinct item.

    Pass 1 (`mapInPandas`, Arrow-batched): each partition keeps at most
    ``capacity`` counters with the subtract-min Misra-Gries policy.  The MG
    invariant - every counter is undercounted by at most N_p/(capacity+1) -
    means any item with GLOBAL frequency > N/(capacity+1) survives in at
    least one partition summary, so with ``capacity >= 1/phi`` (default
    2/phi for slack) the candidate union is a guaranteed SUPERSET of the
    true phi-heavy hitters.  Candidate count is bounded by
    partitions x capacity - metadata-scale, broadcastable.

    Pass 2: semi-join the (tiny, broadcast) candidate set onto the items -
    the shuffle now carries ONLY candidate rows, not the full long tail -
    and count exactly; filter ``count >= phi * N``.  Exact output, bounded
    memory, tail-free shuffle: at 100 TB with a billion-term vocabulary the
    naive groupBy shuffles every token, this shuffles only near-heavy ones.

    NULL items are EXCLUDED (value_counts drops NaN, so NULL can never be a
    candidate; filtering keeps pass 1, the total, and pass 2 consistent).
    The projected items are localCheckpoint-ed so the candidate pass, the
    exact total, and the verification count read ONE materialization - the
    lineage (e.g. a full tokenization explode) runs once, not three times,
    and a non-deterministic upstream cannot diverge between the passes.
    """
    if not (0 < phi < 1):
        raise ValueError(f"phi must be in (0,1), got {phi}")
    cap = capacity or int(2.0 / phi) + 1

    def _mg(batches):
        import pandas as pd

        counters: dict = {}
        for pdf in batches:
            for item, c in pdf[item_col].value_counts().items():
                counters[item] = counters.get(item, 0) + int(c)
            while len(counters) > cap:
                dec = min(counters.values())
                counters = {k: v - dec for k, v in counters.items() if v > dec}
        yield pd.DataFrame({item_col: list(counters.keys())})

    item_type = items.schema[item_col].dataType.simpleString()
    projected = (
        items.select(item_col)
        .where(F.col(item_col).isNotNull())
        .localCheckpoint(eager=False)
    )
    candidates = (
        projected
        .mapInPandas(_mg, schema=f"{item_col} {item_type}")
        .distinct()
    )
    total = projected.count()
    return (
        projected.join(F.broadcast(candidates), item_col, "left_semi")
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= F.lit(phi * total))
    )


def heavy_hitters_per_group(
    items: DataFrame,
    group_col: str,
    item_col: str,
    phi: float,
    capacity: int | None = None,
) -> DataFrame:
    """Per-group exact heavy hitters: items above ``phi`` of THEIR GROUP's
    rows.  Same two-pass scheme as :func:`heavy_hitters`, but the sketch
    keeps ONE Misra-Gries counter dict PER GROUP (capacity ``2/phi`` each),
    so the MG undercount bound applies to each group's own row stream: an
    item with > phi of ITS group's rows in a partition survives that
    partition's per-group sketch REGARDLESS of how skewed group sizes are.
    (A single MG over concatenated (group,item) pairs only retains pairs
    above a GLOBAL threshold, silently dropping hitters of small groups —
    the skew bug this layout fixes.)  Candidate count is bounded by
    partitions x groups_seen x (2/phi) — still metadata-scale for the
    group cardinalities a per-group report is useful at.  Group totals are
    one extra narrow aggregate (one row per group, broadcast).

    NULL items and NULL groups are excluded, matching
    :func:`heavy_hitters`; the projection is localCheckpoint-ed so both
    passes and the group totals read one materialization."""
    if not (0 < phi < 1):
        raise ValueError(f"phi must be in (0,1), got {phi}")
    cap = capacity or int(2.0 / phi) + 1

    g_type = items.schema[group_col].dataType.simpleString()
    item_type = items.schema[item_col].dataType.simpleString()
    projected = (
        items.select(group_col, item_col)
        .where(F.col(group_col).isNotNull() & F.col(item_col).isNotNull())
        .localCheckpoint(eager=False)
    )

    def _mg(batches):
        import pandas as pd

        groups: dict = {}  # group value -> {item value: MG counter}
        for pdf in batches:
            pair_counts = pdf.groupby([group_col, item_col]).size()
            for (g, item), c in pair_counts.items():
                counters = groups.setdefault(g, {})
                counters[item] = counters.get(item, 0) + int(c)
                while len(counters) > cap:
                    dec = min(counters.values())
                    groups[g] = counters = {
                        k: v - dec for k, v in counters.items() if v > dec
                    }
        yield pd.DataFrame(
            [(g, item) for g, counters in groups.items() for item in counters],
            columns=[group_col, item_col],
        )

    candidates = (
        projected
        .mapInPandas(_mg, schema=f"{group_col} {g_type}, {item_col} {item_type}")
        .distinct()
    )
    totals = projected.groupBy(group_col).agg(F.count(F.lit(1)).alias("__gn"))
    return (
        projected.join(F.broadcast(candidates), [group_col, item_col], "left_semi")
        .groupBy(group_col, item_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(F.broadcast(totals), group_col)
        .where(F.col("cnt") >= F.lit(phi) * F.col("__gn"))
        .select(group_col, item_col, "cnt")
    )


def split_assign(
    df: DataFrame,
    id_col: str,
    splits: dict[str, float],
    salt: str = "s42",
) -> DataFrame:
    """Deterministic train/val/test assignment by id hash: adds a ``split``
    column.  ``splits`` maps name -> fraction (must sum to ~1); boundaries
    are cumulative over the dict's insertion order, so the same id lands in
    the same split across runs, engines, cluster sizes, and growing corpora
    (a new row never moves an old row's split - the property rand() splits
    lack).  Map-side only: no shuffle, no state."""
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions sum to {total}, expected 1.0")
    frac = _hash_frac(F.col(id_col), salt)
    expr = None
    acc = 0.0
    names = list(splits)
    for name in names[:-1]:
        acc += splits[name]
        cond = frac < F.lit(acc)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (F.lit(names[-1]) if expr is None
            else expr.otherwise(names[-1]))  # remainder absorbs float edge
    return df.withColumn("split", expr)


def split_leakage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    splits: dict[str, float] | None = None,
    train_split: str = "train",
    salt: str = "s42",
) -> DataFrame:
    """Cross-split contamination audit: per non-train split, how many docs
    share an exact normalized-text fingerprint with ANY train doc (the
    leakage a held-out eval set must not have).  Run after split_assign and
    before export; non-zero leak_frac means dedup must run BEFORE splitting.

    Scale shape: fingerprints hash-partition once for the train-side
    distinct and once for the left-semi probe - both fp-keyed shuffles; no
    pairwise term.  Returns (split, n_docs, n_leaked, leak_frac)."""
    from aliyun_maxcompute_data_collectors_spark.operators.dedup import _fp_or_sentinel
    splits = splits or {"train": 0.8, "val": 0.1, "test": 0.1}
    if train_split not in splits:
        # an audit that can never match the train side would report zero
        # leakage for ANY corpus - exactly the silent pass it exists to catch
        raise ValueError(
            f"train_split {train_split!r} is not one of the split names "
            f"{sorted(splits)}")
    assigned = (
        split_assign(df, id_col, splits, salt=salt)
        .select("split", _fp_or_sentinel(text_col).alias("fp"))
    )
    holdout = assigned.where(F.col("split") != train_split)
    train_fps = (assigned.where(F.col("split") == train_split)
                 .select("fp").distinct())
    totals = holdout.groupBy("split").agg(F.count(F.lit(1)).alias("n_docs"))
    leaks = (
        holdout.join(train_fps, "fp", "left_semi")
        .groupBy("split").agg(F.count(F.lit(1)).alias("n_leaked"))
    )
    return (
        totals.join(leaks, "split", "left")
        .select(
            "split", "n_docs",
            F.coalesce("n_leaked", F.lit(0)).alias("n_leaked"),
            F.round(F.coalesce("n_leaked", F.lit(0)).cast("double") /
                    F.col("n_docs"), 6).alias("leak_frac"))
    )


def distribution_drift(
    a: DataFrame,
    b: DataFrame,
    key_col: str,
    top_n: int = 20,
) -> DataFrame:
    """Drift diagnostics between two categorical distributions - e.g. the
    token / language / source histograms of two corpus snapshots, the
    monitoring signal that catches silent mixture shifts between pipeline
    runs.  Inputs are pre-aggregated (key, n) histograms or raw key rows
    (auto-counted when no ``n`` column exists).

    Returns the ``top_n`` keys by probability movement |p_a - p_b| with a
    ``jsd`` column (Jensen-Shannon divergence, natural log - bounded by
    ln 2, defined for disjoint supports) repeated on every row.

    Determinism across engines: per-key JSD terms are rounded then summed
    as DECIMAL (exact, order-independent) - a double SUM would depend on
    aggregation order and never hash-match a second engine.  Scale: two
    hash aggregates + one full-outer join on the key, a 2-row totals
    broadcast; nothing data-sized crosses the driver."""
    def hist(df: DataFrame, n_alias: str) -> DataFrame:
        # a pre-aggregated histogram must be EXACTLY (key_col, n) - sniffing
        # any frame that merely contains an 'n' column would take per-row
        # values as category counts; duplicate keys are merged either way
        if set(df.columns) == {key_col, "n"}:
            return (df.groupBy(F.col(key_col).alias("key"))
                    .agg(F.sum("n").alias(n_alias)))
        return (df.groupBy(F.col(key_col).alias("key"))
                .agg(F.count(F.lit(1)).alias(n_alias)))

    ha, hb = hist(a, "n_a"), hist(b, "n_b")
    # materialized ONCE (r13): this relation feeds the totals broadcast,
    # the JSD-sum broadcast AND the final projection - lazily each of
    # those three jobs would re-run both tokenize/aggregate inputs from
    # scratch.  The checkpoint is O(distinct keys) (the histogram
    # domain), the same bound the operator's output already implies;
    # executor storage is disk-backed for vocabulary-sized domains.
    j = (ha.join(hb, "key", "full_outer")
         .select("key",
                 F.coalesce("n_a", F.lit(0)).alias("n_a"),
                 F.coalesce("n_b", F.lit(0)).alias("n_b"))
         .localCheckpoint(eager=True))
    tot = j.agg(F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb"))
    # an empty snapshot reads as all-zero probabilities rather than
    # NULL-poisoning the whole report - "snapshot went empty" is exactly
    # the regression this monitor exists to surface.  The resulting JSD is
    # the one-sided sum ln(2)/2 ~= 0.3466 (only the non-empty side
    # contributes p*ln(p/(p/2)) terms); alert thresholds should use that
    # bound, not ln 2 (test_distribution_drift_bounds pins it).
    p = (j.crossJoin(F.broadcast(tot))
         .select("key", "n_a", "n_b",
                 F.when(F.col("ta") > 0,
                        F.col("n_a").cast("double") / F.col("ta"))
                 .otherwise(F.lit(0.0)).alias("p_a"),
                 F.when(F.col("tb") > 0,
                        F.col("n_b").cast("double") / F.col("tb"))
                 .otherwise(F.lit(0.0)).alias("p_b")))
    m = (F.col("p_a") + F.col("p_b")) / 2
    term = (
        F.when(F.col("p_a") > 0, F.col("p_a") * F.log(F.col("p_a") / m)).otherwise(F.lit(0.0))
        + F.when(F.col("p_b") > 0, F.col("p_b") * F.log(F.col("p_b") / m)).otherwise(F.lit(0.0))
    ) * 0.5
    scored = p.withColumn(
        "jsd_term", F.round(term, 12).cast("decimal(38,15)"))
    jsd = scored.agg(
        F.round(F.sum("jsd_term").cast("double"), 8).alias("jsd"))
    # order + cut on the 12-decimal drift, THEN round for display - ordering
    # on the 8-rounded value would let sub-1e-8 drift differences straddle
    # the top_n boundary differently in each engine
    return (
        scored.withColumn("drift", F.round(F.abs(F.col("p_a") - F.col("p_b")), 12))
        .crossJoin(F.broadcast(jsd))
        .orderBy(F.desc("drift"), F.asc("key"))
        .limit(top_n)
        .select("key", "n_a", "n_b",
                F.round("p_a", 8).alias("p_a"), F.round("p_b", 8).alias("p_b"),
                F.round("drift", 8).alias("drift"), "jsd")
    )


# ---------------------------------------------------------------------------
# cross-document boilerplate scoring (C4/CCNet-style repeated-span signal)
# ---------------------------------------------------------------------------

def boilerplate_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str | None = None,
    n: int = 3,
    min_docs: int = 2,
    broadcast_hot: bool = False,
    reuse: str = "persist",
) -> DataFrame:
    """Fraction of each document's word ``n``-gram shingles that are
    "boilerplate" - shingles appearing in >= ``min_docs`` distinct documents
    (within ``group_col``, e.g. the crawl source/domain, when given).  The
    C4 pipeline drops any 3-sentence span seen more than once; this is the
    shingle-level generalization that yields a per-doc score instead of a
    hard drop, so callers pick the threshold.

    Plan at scale: shingle explode -> (group, shingle) doc-frequency
    aggregate (one shuffle; shingles are distinct per doc so count(*) IS
    doc frequency) -> hot set filtered to df >= min_docs -> join back ->
    per-doc aggregate.  No quadratic term anywhere.

    The hot set's only size bound is total_shingles / min_docs - at the
    default min_docs=2 that can be a large fraction of the shingle
    universe on a real crawl, so the default ``broadcast_hot=False`` lets
    AQE pick the join strategy from the MEASURED hot-set size (it still
    broadcasts when genuinely small).  Set ``broadcast_hot=True`` only
    when min_docs is high enough that the hot set is provably tiny.

    The shingle table feeds BOTH the doc-frequency aggregate and the probe
    join.  ``reuse="persist"`` (default) materializes it once as a local
    checkpoint (executor memory+disk blocks, dropped with the last
    DataFrame that references them; not rebuilt if an executor is lost)
    so tokenize+explode runs once - measured 1.3x faster at sf1;
    ``reuse="rescan"`` recomputes it map-side instead - prefer on corpora
    whose n-gram blowup exceeds executor storage (recompute is scan CPU,
    never memory pressure).

    Output: (id_col, n_shingles long, n_boiler long, boiler_frac double).
    """
    from aliyun_maxcompute_data_collectors_spark.operators.dedup import word_shingles
    from aliyun_maxcompute_data_collectors_spark.session import ensure_parallelism

    if reuse not in ("persist", "rescan"):
        raise ValueError(f"unknown reuse mode {reuse!r}")
    gcols = [group_col] if group_col else []
    src = ensure_parallelism(df.select(id_col, *gcols, text_col))
    sh = src.select(
        id_col, *gcols,
        F.explode(word_shingles(text_col, n)).alias("shingle"))
    if reuse == "persist":
        sh = sh.localCheckpoint(eager=True)
    dfreq = sh.groupBy(*gcols, "shingle").agg(
        F.count(F.lit(1)).alias("__df"))
    hot = dfreq.where(F.col("__df") >= min_docs).drop("__df") \
        .withColumn("__hot", F.lit(1))
    if broadcast_hot:
        hot = F.broadcast(hot)
    return (
        sh.join(hot, [*gcols, "shingle"], "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__hot").alias("n_boiler"),
            F.round(F.count("__hot").cast("double") / F.count(F.lit(1)), 4)
            .alias("boiler_frac"),
        )
    )


# ---------------------------------------------------------------------------
# deterministic shard assignment (training-export shuffle)
# ---------------------------------------------------------------------------

def shard_assign(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    salt: str = "sh42",
) -> DataFrame:
    """Global deterministic shuffle into ``n_shards`` fixed shards with a
    stable within-shard order - the assignment step of a training-data
    shard export (webdataset/TFRecord-style).  Both the shard id and the
    within-shard position derive from md5(id||salt): reproducible across
    runs, engines and cluster sizes, unlike rand()-based shuffles, and a
    grown corpus never reorders previously exported rows relative to each
    other within a shard.

    Adds (shard_id int, shard_pos int).  Plan at scale: one map-side hash,
    one shuffle on shard_id, one within-shard sort - exactly the exchange a
    sharded write needs anyway, so ``write_shards`` reuses this plan with
    zero extra cost.  Rows per shard ~ N/n_shards; pick n_shards so a shard
    fits a writer task (the same sizing rule as any bucketed write).
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    out = df.withColumn("__h", h).withColumn(
        "shard_id",
        (F.conv(F.substring("__h", 1, 8), 16, 10).cast("long")
         % n_shards).cast("int"))
    w = Window.partitionBy("shard_id").orderBy(
        F.substring("__h", 9, 16), F.col(id_col))
    return (
        out.withColumn("shard_pos", F.row_number().over(w))
        .drop("__h")
    )


def write_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    n_shards: int,
    salt: str = "sh42",
    fmt: str = "parquet",
) -> None:
    """Materialize the deterministic shard shuffle: one output directory per
    shard_id, rows ordered by shard_pos within each file."""
    assigned = shard_assign(df, id_col, n_shards, salt)
    (
        assigned.repartition(n_shards, "shard_id")
        .sortWithinPartitions("shard_id", "shard_pos")
        .write.format(fmt).mode("overwrite")
        .partitionBy("shard_id").save(path)
    )


# ---------------------------------------------------------------------------
# round-4 corpus analytics: CCNet bucket sampling, cross-source overlap,
# Zipf profile, n-gram novelty
# ---------------------------------------------------------------------------

def ccnet_bucket_sample(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    vocab_size: int = 500,
    keep: tuple[float, float, float] = (1.0, 0.5, 0.1),
    salt: str = "ccnet",
) -> DataFrame:
    """CCNet-style perplexity-bucketed sampling: per language, rank docs by
    self-trained unigram-LM mean logprob, cut into head/middle/tail
    terciles (NTILE(3), ties broken by id), keep each bucket at its own
    deterministic hash fraction.  The standard recipe for skimming the
    high-quality head of a crawl while retaining a tail sample.

    Scale: the per-lang NTILE is one repartition+sort per language - the
    same cost CCNet's per-lang percentile cut pays.  At extreme per-lang
    cardinality swap the tercile for approx_percentile thresholds
    (documented trade: approx cut = no global sort, +-epsilon boundary).
    Output: (id, lang, bucket 1..3, mean_logprob) for KEPT docs."""
    from aliyun_maxcompute_data_collectors_spark.operators.text import (
        unigram_logprob_scores)

    scores = unigram_logprob_scores(docs, id_col, text_col, vocab_size)
    j = docs.select(id_col, lang_col).join(scores, id_col)
    w = Window.partitionBy(lang_col).orderBy(
        F.desc("mean_logprob"), F.asc(id_col))
    b = j.withColumn("bucket", F.ntile(3).over(w))
    keep_frac = (
        F.when(F.col("bucket") == 1, F.lit(float(keep[0])))
        .when(F.col("bucket") == 2, F.lit(float(keep[1])))
        .otherwise(F.lit(float(keep[2]))))
    return (
        b.where(_hash_frac(F.col(id_col), salt) < keep_frac)
        .select(id_col, lang_col, "bucket", "mean_logprob"))


def source_overlap(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how many
    normalized-text fingerprints appear in BOTH (corpus-health check before
    mixing crawls - e.g. how much of C4 is already inside CC).

    Scale shape: one distinct on (fp, source) - cardinality <= corpus -
    then a self-equijoin on fp whose per-key fan-out is bounded by the
    number of SOURCES (not docs), and a tiny pair aggregate."""
    from aliyun_maxcompute_data_collectors_spark.operators.dedup import (
        _NULL_FP, _fp_or_sentinel)

    # NULL-text docs all share the sentinel fingerprint; counting it would
    # report sham cross-source overlap (same exclusion ngram_jaccard makes)
    d = (docs.select(_fp_or_sentinel(text_col).alias("fp"),
                     F.col(source_col).alias("src"))
         .where(F.col("fp") != _NULL_FP).distinct())
    a = d.alias("a")
    b = d.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col("a.src") < F.col("b.src")))
        .groupBy(F.col("a.src").alias("source_a"),
                 F.col("b.src").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
    )


_ZIPF_DEC = "decimal(38,15)"


def zipf_profile(
    docs: DataFrame,
    text_col: str = "text",
    top_n: int = 200,
) -> DataFrame:
    """Zipf fit over the top-``top_n`` corpus tokens: least-squares slope /
    intercept of ln(freq) on ln(rank).  A healthy natural-language corpus
    sits near slope -1; flat slopes flag boilerplate/templated text.

    Cross-engine determinism: the regression sums are DECIMAL-exact over
    12-decimal-rounded terms (a double SUM depends on aggregation order);
    the closed-form slope then divides identical doubles.  Scale: one
    token hash-aggregate; the fit runs on top_n rows."""
    tok = docs.select(
        F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("term")
    ).where(F.col("term") != "")
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.asc("term"))
    top = (counts.orderBy(F.desc("cnt"), F.asc("term")).limit(top_n)
           .withColumn("rank", F.row_number().over(w)))
    lnr = F.log(F.col("rank").cast("double"))
    lnc = F.log(F.col("cnt").cast("double"))
    terms = top.select(
        F.round(lnr, 12).cast(_ZIPF_DEC).alias("x"),
        F.round(lnc, 12).cast(_ZIPF_DEC).alias("y"),
        F.round(lnr * lnr, 12).cast(_ZIPF_DEC).alias("xx"),
        F.round(lnr * lnc, 12).cast(_ZIPF_DEC).alias("xy"))
    s = terms.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum("xx").alias("sxx"), F.sum("xy").alias("sxy"))
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        F.col("n").alias("n_top"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"))


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Top-``top_k`` adjacent-bigram collocations by pointwise mutual
    information: PMI(x,y) = ln( p(x,y) / (p(x) p(y)) ) with p(x,y) over
    bigram occurrences and p(x), p(y) over token occurrences.  High-PMI
    pairs are multiword expressions ("los angeles"); a corpus whose top
    PMI list is template fragments is boilerplate-heavy.  ``min_count``
    drops hapax bigrams (classic PMI degeneracy: a 1-count bigram of two
    1-count tokens maxes the score).

    Scale: tokens stay inside their doc row until the two explodes; both
    count aggregates are partial-aggregable hash aggs keyed by term /
    (x, y) - hot tokens combine map-side, nothing quadratic.  The two
    corpus totals ride in on a 1-row broadcast cross join; unigram counts
    attach to the min_count-filtered bigram survivors (vocabulary-sized
    hash joins, never bigram-universe-sized).  Cross-engine determinism:
    the PMI double is computed with one fixed operation order
    (cast-divide-multiply-divide-ln, identical in the DuckDB oracle) and
    rounded to 6; ties at the top_k boundary break on (x, y)."""
    w = F.expr(
        f"filter(split(lower({text_col}), '[^a-z]+'), t -> t <> '')")
    d = docs.select(w.alias("w"))
    uni = (d.select(F.explode("w").alias("term"))
           .groupBy("term").agg(F.count(F.lit(1)).alias("n_term")))
    bg = F.expr(
        "zip_with(slice(w, 1, greatest(size(w) - 1, 0)),"
        "         slice(w, 2, greatest(size(w) - 1, 0)),"
        "         (a, b) -> struct(a AS x, b AS y))")
    big = (d.select(F.explode(bg).alias("bg"))
           .select(F.col("bg.x").alias("x"), F.col("bg.y").alias("y"))
           .groupBy("x", "y").agg(F.count(F.lit(1)).alias("n_xy")))
    tot = (uni.agg(F.sum("n_term").cast("double").alias("n_tok"))
           .crossJoin(big.agg(F.sum("n_xy").cast("double").alias("n_big"))))
    cand = (big.where(F.col("n_xy") >= min_count)
            .join(uni.select(F.col("term").alias("x"),
                             F.col("n_term").alias("n_x")), "x")
            .join(uni.select(F.col("term").alias("y"),
                             F.col("n_term").alias("n_y")), "y")
            .crossJoin(F.broadcast(tot)))
    pmi = F.log(
        (F.col("n_xy").cast("double") / F.col("n_big"))
        / ((F.col("n_x").cast("double") / F.col("n_tok"))
           * (F.col("n_y").cast("double") / F.col("n_tok"))))
    return (cand.select("x", "y", "n_xy", "n_x", "n_y",
                        F.round(pmi, 6).alias("pmi"))
            .orderBy(F.desc("pmi"), F.asc("x"), F.asc("y"))
            .limit(top_k))


def ngram_novelty(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct word n-grams
    whose FIRST occurrence (min doc id) is this doc.  Low-novelty documents
    are re-combinations of text already in the corpus - the cheap
    memorization/repetition audit run before training.

    Scale: shingle explode -> one min-aggregate keyed by shingle (partial-
    aggregable, hot shingles safe) -> 1:1 join back on shingle -> per-doc
    aggregate.  Nothing quadratic, nothing driver-sized."""
    from aliyun_maxcompute_data_collectors_spark.operators.dedup import shingle_table

    grams = shingle_table(docs, id_col, text_col, n)
    first = grams.groupBy("shingle").agg(F.min(id_col).alias("first_id"))
    return (
        grams.join(first, "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(
                F.sum(F.when(F.col("first_id") == F.col(id_col), 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"), 4).alias("novelty"))
    )
