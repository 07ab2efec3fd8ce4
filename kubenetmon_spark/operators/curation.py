"""Training-data curation: chunking, sequence packing, mixture sampling.

The last mile of a pretraining pipeline, downstream of dedup/quality:
split documents into model-window-sized chunks, pack them into fixed
token budgets, and draw per-source mixture proportions. All three are
pure DataFrame expressions — no UDFs, no state — so they run at corpus
scale as scan + (at most) one windowed pass, and each is exactly
reproducible in ANSI SQL for the correctness gate.

Scale posture:
- ``chunk_documents``: projection + explode of a computed offset
  sequence; no shuffle. Chunk count = ceil(tokens/step) per doc, so
  output size is predictable from input stats.
- ``pack_greedy``: the classic concat-then-split packing. A running
  token total within each shard assigns bin = cum_before // budget.
  The window runs per ``shard_col`` — never a global sort; shards
  (source files, date buckets) are how real pipelines bound the
  sequential dependency of packing. A document larger than the budget
  keeps its bin (overflow), exactly like concat-and-split training
  tokenizers.
- ``shard_pack_balanced``: terminal N-shard export balancing. One
  range exchange (materialized once) + a per-partition window + a
  partition-count prefix sum; no global single-task stage anywhere.
- ``mixture_sample``: per-stratum deterministic hash thresholds
  (sampling.py convention: md5 of the stable id, first 4 hex chars).
  The decision is a pure function of (id, stratum rate) — identical
  across runs, engines, partitionings; changing one source's rate
  never reshuffles another source's sample.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kubenetmon_spark.operators.sampling import _BUCKETS
from kubenetmon_spark.tables import local_df


def chunk_documents(
    df: DataFrame,
    window: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Explode documents into overlapping token windows.

    Output: (id, chunk_idx, n_tokens, chunk) with chunk_idx dense from 0,
    stride = window - overlap, last chunk short. Empty documents produce
    no chunks.
    """
    if not 0 <= overlap < window:
        raise ValueError("need 0 <= overlap < window")
    step = window - overlap
    # FILTER empty tokens rather than probing element 1: F.trim strips
    # only SPACES, so a doc starting with \n or \t used to carry a
    # leading empty token and be dropped WHOLESALE by the probe (silent
    # corpus loss), and trailing newlines inflated n_tokens
    toks = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda t: t != ""
    )
    base = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.size(toks).alias("_n"),
    ).filter(F.col("_n") > 0)
    return (
        base.select(
            id_col,
            "_toks",
            "_n",
            F.explode(
                F.sequence(F.lit(0), F.greatest(F.col("_n") - 1, F.lit(0)), F.lit(step))
            ).alias("_start"),
        )
        .select(
            id_col,
            (F.col("_start") / step).cast("int").alias("chunk_idx"),
            F.least(F.lit(window), F.col("_n") - F.col("_start")).alias("n_tokens"),
            F.array_join(
                F.slice(F.col("_toks"), F.col("_start") + 1, window), " "
            ).alias("chunk"),
        )
    )


def pack_greedy(
    df: DataFrame,
    budget: int,
    token_col: str,
    order_col: str,
    shard_col: str,
) -> DataFrame:
    """Assign each row a pack/bin id: contiguous concat-then-split
    packing within each shard, in ``order_col`` order.

    bin = (sum of tokens of all earlier rows in the shard) // budget.
    Deterministic given a unique order column; the window partitions by
    shard so no global sort exists at any scale.
    """
    w = Window.partitionBy(shard_col).orderBy(order_col)
    cum_before = F.sum(token_col).over(w) - F.col(token_col)
    return df.withColumn("bin", F.floor(cum_before / budget))


def shard_pack_balanced(
    df: DataFrame,
    n_shards: int,
    token_col: str,
    id_col: str,
    n_rank_partitions: int | None = None,
) -> DataFrame:
    """Deal rows into ``n_shards`` near-equal-token output shards —
    the terminal export step of a training-data pipeline ("write N
    shards of ~equal token count for N data-loader workers").

    Rows are ranked globally by ``(token_col DESC, id_col)`` and dealt
    serpentine (boustrophedon): rank r goes to shard ``r % 2n`` on the
    forward pass, ``2n-1 - r % 2n`` on the return pass. With the
    longest documents dealt first, shard token totals differ by at
    most one document within any serpentine round — the distributed,
    loop-free analogue of first-fit-decreasing.

    The global rank is computed scalably (a single-partition
    ``row_number`` window would serialize the corpus through one
    task): ``repartitionByRange`` on the sort key, per-partition local
    ``row_number``, then a partition-count prefix-sum (one tiny
    driver-side list, one row per partition) broadcast back as the
    rank offset. The range-partitioned table is materialized once
    (eager ``localCheckpoint``) BEFORE the count pass: range bounds
    come from execution-time sampling, so the offsets job and the
    final job must observe the same physical partitioning — one
    corpus materialization, amortized into the export write this
    operator terminates. Output is deterministic because
    ``(token_col DESC, id_col)`` is a strict total order.

    Returns the input plus ``_rank`` (0-based global) and ``_shard``.
    Downstream writers partition/bucket by ``_shard``; that shuffle is
    exactly the one the export itself requires.
    """
    n = int(n_shards)
    if n <= 0:
        raise ValueError("n_shards must be positive")
    parts = int(
        n_rank_partitions
        or df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    ranged = (
        df.repartitionByRange(parts, F.col(token_col).desc(), F.col(id_col))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    local = F.row_number().over(
        Window.partitionBy("_pid").orderBy(
            F.col(token_col).desc(), F.col(id_col)
        )
    )
    ranked = ranged.withColumn("_local", local)
    # one row per partition: bounded by the partition count, never data
    counts = dict(
        (r["_pid"], r["n"])
        for r in ranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off = F.lit(0)
    for pid in sorted(offsets):
        off = F.when(F.col("_pid") == pid, F.lit(offsets[pid])).otherwise(off)
    rank = (off + F.col("_local") - 1).cast("long")
    phase = rank % (2 * n)
    shard = F.when(phase < n, phase).otherwise(2 * n - 1 - phase)
    return (
        ranked.withColumn("_rank", rank)
        .withColumn("_shard", shard.cast("int"))
        .drop("_pid", "_local")
    )


def mixture_sample(
    df: DataFrame,
    rates_bp: dict[str, int],
    stratum_col: str,
    id_col: str,
    default_bp: int = 0,
) -> DataFrame:
    """Keep ~rates_bp[stratum]/10000 of each stratum's rows, decided
    per-row by md5(id) against the stratum's threshold. Strata missing
    from ``rates_bp`` fall back to ``default_bp`` (0 = drop)."""
    hex4 = F.substring(F.md5(F.col(id_col).cast("string")), 1, 4)

    def thr(bp: int) -> str:
        # 'g' sorts above every hex digit: bp >= 10000 keeps everything
        # (format(65536, '04x') = '10000' is lexicographically < 'ffff')
        if bp >= 10000:
            return "g"
        return format(int(_BUCKETS * bp / 10000), "04x")

    expr = F.lit(thr(default_bp))
    for stratum, bp in sorted(rates_bp.items()):
        expr = F.when(F.col(stratum_col) == stratum, F.lit(thr(bp))).otherwise(expr)
    return df.filter(hex4 < expr)


def cap_per_group(
    df: DataFrame,
    group_cols: list[str],
    k: int,
    id_col: str,
    order_col: str | None = None,
    offset: int = 0,
) -> DataFrame:
    """Keep at most ``k`` rows per group — ClickHouse's ``LIMIT k BY
    group`` clause, and the per-domain/per-source quota every web-scale
    curation pipeline applies before mixing.

    Deterministic: rows rank by ``order_col`` (best-first) if given,
    else by ``md5(id)`` — an unbiased, reproducible pseudo-random pick
    that needs no seed state; ``id_col`` always breaks ties.
    ``offset`` gives ClickHouse's ``LIMIT k OFFSET o BY group`` form
    (skip the first o ranked rows of each group).

    Plan: one hash shuffle + in-partition sort and row_number, filter
    <= k. Skewed groups (one domain = half the corpus) sort within a
    single partition — for those, pre-filter with a cheap per-partition
    partial cap (groupBy group+salt, cap at k each) before the exact
    pass; at our gate scales the single window is optimal.
    """
    rank_on = (
        [F.col(order_col), F.col(id_col)]
        if order_col
        else [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    )
    w = Window.partitionBy(*group_cols).orderBy(*rank_on)
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter((F.col("_rk") > offset) & (F.col("_rk") <= offset + k))
        .drop("_rk")
    )


def mixture_epochs(
    df: DataFrame,
    targets: dict[str, int],
    token_col: str,
    stratum_col: str,
    id_col: str,
) -> DataFrame:
    """Expand each stratum to hit its token ``targets`` by repeating
    documents across epochs — the replication half of a pretraining
    mixture (``temperature_rates_bp`` downweights oversized sources by
    sampling; this upweights undersized ones by epoching, the standard
    "repeat small high-quality sources k.x times" recipe).

    For stratum ``s`` with corpus tokens ``N_s`` and target ``T_s``:
    ``full = T_s // N_s`` whole epochs (every doc appears with
    ``epoch = 0..full-1``), plus a fractional epoch ``full`` keeping
    each doc iff ``md5(id|epoch)``'s first 4 hex chars fall under
    ``(T_s % N_s) * 10000 // N_s`` basis points — document-level
    hash selection, so expected fractional tokens match the remainder
    and the decision is a pure function of (id, epoch): deterministic
    across runs, engines, partitionings. Strata absent from
    ``targets`` are dropped (target 0).

    Scale posture: one tiny per-stratum token agg (collected — one row
    per stratum), then a broadcast join of the plan onto the scan and
    an explode of ``sequence(0, full)`` — no fact-side shuffle; output
    volume is exactly the requested token budget.
    """
    spark = df.sparkSession
    totals = {
        r["s"]: r["t"] or 0
        for r in df.groupBy(F.col(stratum_col).alias("s"))
        .agg(F.sum(token_col).alias("t"))
        .collect()
    }
    plan = []
    for s, n in sorted(totals.items()):
        t = int(targets.get(s, 0))
        if n <= 0 or t <= 0:
            continue
        plan.append((s, t // n, (t % n) * 10000 // n))
    if not plan:
        return (
            df.withColumn("epoch", F.lit(0).cast("long")).limit(0)
        )
    stype = df.schema[stratum_col].dataType.simpleString()
    # one-slice plan frame (tables.local_df): the per-stratum plan is a
    # handful of rows; core-count slicing cost a task storm per scan
    plan_df = local_df(
        spark, plan, f"{stratum_col} {stype}, _full long, _frac_bp long"
    )
    hex4 = F.substring(
        F.md5(
            F.concat_ws(
                "|", F.col(id_col).cast("string"), F.col("epoch").cast("string")
            )
        ),
        1,
        4,
    )
    thr = F.lpad(
        F.lower(F.hex((F.col("_frac_bp") * _BUCKETS / 10000).cast("long"))),
        4,
        "0",
    )
    return (
        df.join(F.broadcast(plan_df), stratum_col)
        .withColumn(
            "epoch", F.explode(F.sequence(F.lit(0).cast("long"), F.col("_full")))
        )
        .filter((F.col("epoch") < F.col("_full")) | (hex4 < thr))
        .drop("_full", "_frac_bp")
    )


def temperature_rates_bp(
    sizes: dict[str, int], alpha: float = 0.7, budget: int | None = None
) -> dict[str, int]:
    """Temperature-based mixture rates (the ``size^alpha`` reweighting
    used for multilingual/pretraining mixes): returns per-stratum
    keep-rates in basis points for ``mixture_sample``, such that the
    EXPECTED kept counts are proportional to ``size_s ** alpha`` and
    total ~``budget`` rows (default: the smallest stratum's equalized
    budget — alpha=0 equalizes strata, alpha=1 keeps natural
    proportions).

    Pure driver-side arithmetic over the stratum sizes (a handful of
    numbers); determinism of the actual sampling comes from
    mixture_sample's md5 thresholds. Rates clamp to 10000 — a stratum
    smaller than its target keeps everything (the standard
    oversample-not-available caveat; callers wanting replication handle
    it upstream).
    """
    if not sizes:
        return {}
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    weights = {s: float(n) ** alpha if n > 0 else 0.0 for s, n in sizes.items()}
    wtot = sum(weights.values())
    if wtot == 0:
        return {s: 0 for s in sizes}
    if budget is None:
        # equalized default: every stratum could fill its share of the
        # total implied by the smallest stratum at its weight share
        smallest = min((n for n in sizes.values() if n > 0), default=0)
        smin = min(
            (s for s, n in sizes.items() if n == smallest),
            default=None,
        )
        budget = int(smallest / (weights[smin] / wtot)) if smin else 0
    rates = {}
    for s, n in sizes.items():
        target = budget * (weights[s] / wtot)
        rates[s] = min(10000, int(round(target / n * 10000))) if n else 0
    return rates


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    line_sep: str = "\n",
    min_words_per_line: int = 5,
    min_kept_lines: int = 3,
    terminal_chars: str | None = None,
    drop_tokens: tuple[str, ...] = (),
    out_prefix: str = "c4_",
) -> DataFrame:
    """C4-style line-structure cleaning (Raffel et al. 2020, §2.2):
    a document is a list of lines; a line survives iff it has at least
    ``min_words_per_line`` words, (optionally) ends in a terminal
    punctuation character, and contains none of ``drop_tokens``
    (case-insensitive — C4 drops lines with the word "javascript");
    the document survives iff at least ``min_kept_lines`` lines do and
    it carries neither "lorem ipsum" nor a curly brace (C4's code/
    boilerplate tells).

    Adds ``{p}clean`` (kept lines re-joined), ``{p}n_lines``,
    ``{p}n_kept``, ``{p}keep``. Everything is split/filter/array_join
    higher-order expressions over the row — whole-stage codegen, no
    UDF, no shuffle, no state: at 100 TB this fuses into the scan like
    the Gopher gate (q155) and costs one pass.

    ``terminal_chars=None`` disables the end-punctuation rule (for
    corpora without punctuation — rule parameters are corpus-adapted,
    the rule SHAPES are C4's; same stance as q187's Gopher gate).
    """
    p = out_prefix
    lines = F.split(F.col(text_col), line_sep)

    def line_ok(l):
        words = F.filter(F.split(l, " "), lambda w: w != "")
        ok = F.size(words) >= min_words_per_line
        if terminal_chars is not None:
            term = F.substring(l, -1, 1).isin(*list(terminal_chars))
            ok = ok & term
        for tok in drop_tokens:
            ok = ok & ~F.contains(F.lower(l), F.lit(tok.lower()))
        return ok

    kept = F.filter(lines, line_ok)
    doc_ok = (
        (F.size(kept) >= min_kept_lines)
        & ~F.contains(F.lower(F.col(text_col)), F.lit("lorem ipsum"))
        & ~F.contains(F.col(text_col), F.lit("{"))
    )
    return (
        df.withColumn(f"{p}n_lines", F.size(lines))
        .withColumn(f"{p}n_kept", F.size(kept))
        .withColumn(f"{p}clean", F.array_join(kept, line_sep))
        .withColumn(f"{p}keep", doc_ok)
    )


def dedup_lines(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    line_sep: str = "\n",
    out_col: str = "dedup_text",
) -> DataFrame:
    """Global line/paragraph-level exact deduplication with document
    reassembly (the RefinedWeb/Falcon pass that strips boilerplate
    headers, nav bars, cookie banners shared across pages): every line
    keeps only its FIRST occurrence corpus-wide (ordered by
    ``(id_col, position)`` — deterministic under any partitioning),
    then each document is rebuilt from its surviving lines in original
    order. Empty lines are dropped outright.

    Returns ``(id_col, {out_col}, n_lines, n_kept)`` — one row per
    DISTINCT document id (duplicate ids conflate into one group, like
    any id-keyed aggregation here; documents whose every line was
    claimed elsewhere come back with an empty string, so corpus
    accounting stays exact).

    Scale: two shuffles, both on natural keys — (1) hash partition by
    line text for the first-occurrence window (the dedup state IS the
    partitioning; skew from a mega-duplicated line is bounded because
    row_number needs no buffering beyond the sort run), (2) regroup by
    document id to reassemble. Volume never exceeds the exploded line
    count; no driver state, no collect.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), line_sep)).alias("_pos", "_line"),
    ).filter(F.col("_line") != "")
    w = Window.partitionBy("_line").orderBy(F.col(id_col), F.col("_pos"))
    ranked = lines.withColumn("_rk", F.row_number().over(w))
    per_doc = (
        ranked.groupBy(id_col)
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.when(F.col("_rk") == 1, 1).otherwise(0)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_rk") == 1,
                                F.struct(
                                    F.col("_pos").alias("pos"),
                                    F.col("_line").alias("line"),
                                ),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                line_sep,
            ).alias(out_col),
        )
    )
    # Docs with NO non-empty lines emit no line rows, so the regroup
    # alone would silently drop them — the one-row-per-DISTINCT-id
    # promise above requires a survival path (the chunk_documents /
    # remove_duplicate_spans lesson). Shape: UNION of per_doc with the
    # null-safe-anti-joined missing ids, NOT a left join over the full
    # doc list — the heavy rebuilt-text column flows straight to the
    # output without re-shuffling through a join, and only two id
    # columns move through the anti-join. eqNullSafe so a NULL-id
    # document (one group, pre-existing groupBy semantics) keeps its
    # COMPUTED output instead of being silently swapped for ("", 0, 0).
    # distinct() on the missing side: the output contract is one row
    # per DISTINCT id (the groupBy already conflates duplicate ids on
    # the content-bearing path; without distinct, duplicate ids with
    # empty text would emit multiple rows while content-bearing ones
    # emit one — an inconsistent multiplicity).
    missing = df.select(id_col).distinct().join(
        per_doc.select(F.col(id_col).alias("_rid")),
        F.col(id_col).eqNullSafe(F.col("_rid")),
        "left_anti",
    )
    return per_doc.select(id_col, "n_lines", "n_kept", out_col).unionByName(
        missing.select(
            F.col(id_col),
            F.lit(0).cast("long").alias("n_lines"),
            F.lit(0).cast("long").alias("n_kept"),
            F.lit("").alias(out_col),
        )
    )


def split_dataset(
    df: DataFrame,
    id_col: str,
    fractions_bp: dict[str, int],
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: every row gets a split
    label from md5(salt:id) alone — reproducible across runs, engines,
    partitionings, and table versions (adding rows never reassigns
    existing ones, the property that keeps eval sets stable as the
    corpus grows). Fractions are basis points and must sum to 10000.

    The hash bucket is the first 4 md5 hex chars (0..65535) rescaled to
    [0, 10000) by exact integer floor — label boundaries are crisp, no
    float thresholds. Pure codegen expression; zero shuffle.
    """
    if sum(fractions_bp.values()) != 10000:
        raise ValueError("fractions_bp must sum to 10000")
    if any(v < 0 for v in fractions_bp.values()):
        raise ValueError("fractions must be non-negative")
    b = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(salt), F.lit(":"), F.col(id_col).cast("string")
                )
            ),
            1,
            4,
        ),
        16,
        10,
    ).cast("long")
    # exact floor: b*10000 < 2^52, so the double quotient floors true
    milli = F.floor((b * 10000) / 65536).cast("long")
    expr = None
    cum = 0
    *init, (last_name, _) = list(fractions_bp.items())
    for name, bp in init:
        cum += bp
        cond = milli < cum
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(last_name) if expr is None else expr.otherwise(last_name)
    return df.withColumn(out_col, expr)


#: per-anchor candidate-pool size the default bucket count targets:
#: buckets = max(8, n // NEGATIVE_POOL_TARGET) keeps ~256 candidates
#: per anchor, so total candidate pairs stay LINEAR in the corpus.
NEGATIVE_POOL_TARGET = 256
#: refusal threshold for explicit constant buckets: a per-anchor pool
#: above this on a >10k-row corpus is the Θ(n²/buckets) shape the r6
#: sf10 sweep caught wedging on ~5e9 intermediate pairs (SCALE.md).
NEGATIVE_UNGUARDED_POOL_LIMIT = 4096
NEGATIVE_UNGUARDED_DOC_LIMIT = 10_000


def sample_negatives(
    df: DataFrame,
    id_col: str,
    label_col: str,
    k: int = 3,
    buckets: int | None = None,
    salt: str = "neg",
    unsafe_fixed_buckets: bool = False,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training pairs:
    for every anchor row, pick ``k`` rows with a DIFFERENT label,
    chosen by the md5(salt:anchor:candidate) order — a pure function
    of the ids, so the same negatives come back on any engine, run,
    or partitioning (the property that makes contrastive datasets
    reproducible and resumable).

    Candidates are restricted to the anchor's hash bucket
    (md5(candidate) % buckets == md5(anchor) % buckets), so the join
    is (n/buckets)-per-anchor instead of all-pairs.

    **Scale boundary (enforced).** ``buckets`` MUST scale with the
    corpus: a constant bucket count is still Θ(n²/buckets) candidate
    pairs — the r6 sf10 sweep measured exactly that (~5e9 intermediate
    rows from buckets=8 at 20M rows). The default (``buckets=None``)
    therefore derives ``max(8, n // NEGATIVE_POOL_TARGET)``, keeping
    the per-anchor pool ~constant and total work linear (one count job
    buys the guarantee). An EXPLICIT ``buckets`` on a corpus over
    ``NEGATIVE_UNGUARDED_DOC_LIMIT`` rows whose per-anchor pool
    ``n / buckets`` exceeds ``NEGATIVE_UNGUARDED_POOL_LIMIT`` is
    refused — pass ``unsafe_fixed_buckets=True`` to force the
    quadratic plan (the :func:`jaccard_pairs` precedent). The bucket
    equi-join shuffles both sides once on the bucket key either way.
    Anchors whose bucket lacks k differently-labeled rows return
    fewer negatives (count them; don't silently re-draw).

    Returns (anchor_id, neg_id, neg_rank 1..k).
    """
    if buckets is None:
        n = df.count()
        buckets = max(8, n // NEGATIVE_POOL_TARGET)
    elif not unsafe_fixed_buckets:
        n = df.count()
        if (
            n > NEGATIVE_UNGUARDED_DOC_LIMIT
            and n // buckets > NEGATIVE_UNGUARDED_POOL_LIMIT
        ):
            raise ValueError(
                f"sample_negatives: {n} rows with buckets={buckets} "
                f"gives a ~{n // buckets}-candidate pool per anchor "
                f"(limit {NEGATIVE_UNGUARDED_POOL_LIMIT}) — the "
                "Θ(n²/buckets) shape. Pass buckets=None to derive "
                f"max(8, n//{NEGATIVE_POOL_TARGET}), scale buckets "
                "with the corpus yourself, or force the quadratic "
                "plan with unsafe_fixed_buckets=True."
            )
    h = lambda c: F.conv(
        F.substring(F.md5(c), 1, 8), 16, 10
    ).cast("long")
    a = df.select(
        F.col(id_col).alias("_aid"),
        F.col(label_col).alias("_albl"),
        (h(F.col(id_col).cast("string")) % buckets).alias("_b"),
    )
    c = df.select(
        F.col(id_col).alias("_cid"),
        F.col(label_col).alias("_clbl"),
        (h(F.col(id_col).cast("string")) % buckets).alias("_cb"),
    )
    pairs = a.join(c, (a["_b"] == c["_cb"])).filter(
        (F.col("_albl") != F.col("_clbl"))
        & (F.col("_aid") != F.col("_cid"))
    )
    key = h(
        F.concat(
            F.lit(salt),
            F.lit(":"),
            F.col("_aid").cast("string"),
            F.lit(":"),
            F.col("_cid").cast("string"),
        )
    )
    w = Window.partitionBy("_aid").orderBy(key, F.col("_cid"))
    return (
        pairs.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select(
            F.col("_aid").alias("anchor_id"),
            F.col("_cid").alias("neg_id"),
            F.col("_rk").alias("neg_rank"),
        )
    )


def dedup_lines_incremental(
    new_docs: DataFrame,
    seen_lines: DataFrame | None,
    id_col: str,
    text_col: str = "text",
    line_sep: str = "\n",
    out_col: str = "dedup_text",
) -> tuple[DataFrame, DataFrame]:
    """Incremental form of :func:`dedup_lines` — the production shape
    where today's crawl is deduplicated against the HISTORICAL line
    index instead of re-processing the whole corpus: a line survives
    iff it is absent from ``seen_lines`` (one column, ``line``) AND it
    is the first occurrence within the new batch.

    Returns ``(deduped, updated_index)``: the per-document reassembly
    (same columns as dedup_lines) and the new index (old ∪ new batch's
    surviving lines) to persist for the next increment. Equivalence
    contract, stated precisely: running batches in sequence equals one
    dedup_lines over the concatenated corpus IFF document ids are
    monotone across batches (each batch's ids all exceed the previous
    batch's — the natural shape for crawl increments). The incremental
    form privileges ARRIVAL order (an earlier batch always wins a
    shared line), while the one-shot form privileges the smaller
    (id, pos); with non-monotone ids across batches the two can keep
    the same line in different documents. The test pins the monotone
    case.

    Scale: the anti-join against the index hash-partitions on line
    text (same key as the in-batch first-occurrence window, so the
    exchange is reused); the index grows by distinct new lines only.
    """
    lines = new_docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), line_sep)).alias(
            "_pos", "_line"
        ),
    ).filter(F.col("_line") != "")
    if seen_lines is not None:
        idx = seen_lines.select(F.col("line").alias("_seen"))
        fresh = lines.join(
            idx, lines["_line"] == F.col("_seen"), "left_anti"
        )
    else:
        fresh = lines
    w = Window.partitionBy("_line").orderBy(F.col(id_col), F.col("_pos"))
    ranked = fresh.withColumn("_rk", F.row_number().over(w))
    # base off the full batch doc list, not the non-empty line rows:
    # docs with no non-empty lines must survive as ("", 0, 0) — same
    # contract (and fix) as dedup_lines
    per_doc = (
        new_docs.select(id_col)
        .join(
            lines.groupBy(id_col).agg(F.count("*").alias("n_lines")),
            id_col,
            "left",
        )
        .withColumn("n_lines", F.coalesce(F.col("n_lines"), F.lit(0).cast("long")))
        .join(
            ranked.filter(F.col("_rk") == 1)
            .groupBy(id_col)
            .agg(
                F.count("*").alias("n_kept"),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("_pos").alias("pos"),
                                    F.col("_line").alias("line"),
                                )
                            )
                        ),
                        lambda s: s["line"],
                    ),
                    line_sep,
                ).alias(out_col),
            ),
            id_col,
            "left",
        )
        .withColumn("n_kept", F.coalesce(F.col("n_kept"), F.lit(0)))
        .withColumn(out_col, F.coalesce(F.col(out_col), F.lit("")))
    )
    new_lines = ranked.filter(F.col("_rk") == 1).select(
        F.col("_line").alias("line")
    )
    updated = (
        seen_lines.select("line").unionByName(new_lines).distinct()
        if seen_lines is not None
        else new_lines.distinct()
    )
    return per_doc, updated


# --- PII redaction -----------------------------------------------------
#
# Pre-release scrubbing: structured-identifier patterns (emails, SSN/
# phone shapes, IPv4s, long card-like digit runs) are replaced with
# typed placeholders, with per-document counts of what was removed —
# the audit trail a release review wants. Everything is JVM-side
# ``regexp_replace``/``regexp_count`` inside one projection: no UDF, no
# shuffle, whole-stage-codegen over the scan, so redaction rides along
# with any other per-document pass at corpus scale.
#
# Patterns apply IN ORDER and each counts/replaces on the text as left
# by the previous ones (an SSN consumed by the email pattern is not
# double-counted). The defaults stay in the regex subset shared by
# Java's engine and RE2 (character classes, bounded repeats, ASCII \b)
# so the gate oracle reproduces the fold verbatim.

#: (name, pattern, replacement) — ordered; names become n_<name> count
#: columns. SSN before phone (both dashed-digit shapes, disjoint via
#: group widths); phone before the card-run pattern so a replaced
#: phone's digits can't re-match as a number run.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("phone", r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b", "<IP>"),
    ("number", r"\b[0-9]{13,19}\b", "<NUMBER>"),
]


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "redacted",
    patterns: list[tuple[str, str, str]] | None = None,
) -> DataFrame:
    """Replace PII-shaped spans in ``text_col`` with typed placeholders.

    Appends ``out_col`` (the scrubbed text) and one ``n_<name>`` LONG
    per pattern counting the spans that pattern replaced, in
    application order. Reference parallel: the reference ships raw flow
    metadata to ClickHouse and has no scrub stage
    (pkg/labeler/labeler.go); for a training-data engine the scrub is a
    first-class release gate."""
    cur = F.col(text_col)
    counts = []
    for name, pat, repl in patterns if patterns is not None else PII_PATTERNS:
        counts.append(F.regexp_count(cur, F.lit(pat)).cast("long").alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, repl)
    return df.select("*", *counts, cur.alias(out_col))


def ngram_novelty(
    docs: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    broadcast_reference: bool = False,
) -> DataFrame:
    """Per-document n-gram novelty against a reference corpus: the
    fraction of a doc's DISTINCT n-grams that appear nowhere in the
    reference — the memorization/novelty audit a training pipeline
    runs before adding a new source (a crawl that is 95% n-gram-known
    against the existing corpus buys nothing; generated text that is
    0% novel against the model's train set is regurgitation).

    Output: (id, total_grams, novel_grams, novelty_bp) with
    ``novelty_bp = novel*10000 // total`` exact-integer.

    Scale posture: both sides shingle via the JVM-side
    ``shingle_set`` (byte-identical grams to the dedup/oracle
    convention); the reference collapses to DISTINCT grams once and
    the probe is a single gram-key equi-join (one shuffle each side,
    the q101 span-audit shape) — set ``broadcast_reference=True`` when
    the reference gram set is dimension-sized. Per-doc aggregation
    rides the gram join's output.
    """
    from kubenetmon_spark.operators.dedup import shingle_set

    d_sh = shingle_set(docs, id_col, text_col, n)
    r_sh = (
        shingle_set(reference, id_col, text_col, n)
        .select("shingle")
        .distinct()
        .withColumn("_seen", F.lit(1))
    )
    if broadcast_reference:
        r_sh = F.broadcast(r_sh)
    j = d_sh.join(r_sh, "shingle", "left")
    return (
        j.groupBy(F.col("_id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("total_grams"),
            F.sum(F.when(F.col("_seen").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("novel_grams"),
        )
        .withColumn(
            "novelty_bp", F.expr("novel_grams * 10000 div total_grams")
        )
    )
