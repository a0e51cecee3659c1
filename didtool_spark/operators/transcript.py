"""Transcript-specific data-quality operators.

An agent stuck in a loop emits near-identical turns over and over —
training on such transcripts teaches the loop. ``loop_stats`` measures
per-conversation repetition: how many turns repeat an EARLIER turn of
the same conversation (exact after normalization), and the longest run
of consecutive identical turns (the smoking gun of a retry loop).

Plan shape (the scale contract, asserted in test_plan_shape): in the
default ``strategy="window"`` everything hangs off ONE hash exchange
on the conversation key — the lag window partitions by (conv), the
first-occurrence window by (conv, turn hash), and the final rollup
groups by (conv); Spark's EnsureRequirements recognizes that a
conv-partitioned stream already clusters every (conv, x) key, so the
later steps add Sorts, never Exchanges.

Hot keys: a full-conversation window serializes one task per
conversation, so a 10^9-turn conversation stalls the stage.
``loop_stats``, ``role_stats``, ``attach_outcome`` and
``truncate_conversations`` all take ``strategy="bucketed"``: local
windows run per (conv, order-bucket) of ``bucket_size`` turns and the
cross-bucket state rides small per-(conv, bucket) tables
(temporal._carry_in for the row-count and token carries; a
small-table window or a pure-expression fold for run and role
boundaries). Output-equivalence with the window strategy is
unit-tested per operator (test_transcript_ops.py), including a
randomized differential fixture.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from .temporal import _bucketize, _carry_in, _keyed, _sum_before


def _norm_hash(text: str | Column) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(
        F.regexp_replace(F.trim(F.lower(F.coalesce(c, F.lit("")))), r"\s+", " ")
    )


def loop_stats(
    turns: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
    loop_frac_threshold: float = 0.5,
    max_run_threshold: int = 3,
    strategy: str = "window",
    bucket_size: int = 100_000,
) -> DataFrame:
    """Per-conversation repetition rollup:

    - ``n_turns``
    - ``n_repeat_turns``: turns whose normalized text already occurred
      at a smaller ``order_col`` in the same conversation
    - ``loop_frac`` = n_repeat_turns / n_turns (round 6)
    - ``max_imm_run``: longest run of CONSECUTIVE turns each equal to
      its immediate predecessor (0 when no turn repeats its
      predecessor; a value of k means k+1 identical turns in a row)
    - ``is_looping``: loop_frac >= ``loop_frac_threshold`` OR
      max_imm_run >= ``max_run_threshold``

    Normalization: lower, trim, collapse whitespace — the exact-dedup
    rule (dedup.py), so a turn differing only in spacing still counts
    as a repeat.

    strategy="window" (default): one hash exchange on the conversation
    key; a hot conversation serializes its task.

    strategy="bucketed": hot-key safe, requires a NUMERIC
    ``order_col``. ``n_repeat_turns`` drops the window entirely —
    repeats = n_turns - distinct normalized hashes, two map-side
    combined aggregations over (conv, hash) then (conv). The run
    structure decomposes over (conv, floor(order/bucket_size)): local
    runs come from a window bounded by ``bucket_size`` rows, each
    bucket reduces to a constant-size summary (first/last run hash +
    length, interior max, row count), and a per-conversation
    F.aggregate fold over the collected bucket summaries (an array of
    n_turns/bucket_size elements, order-merged by bucket id) stitches
    runs across bucket boundaries. No task ever scans a whole hot
    conversation; the cost is a second pass over the input (the two
    rollups read independent groupings).
    """
    if strategy not in ("window", "bucketed"):
        raise ValueError(f"unknown strategy {strategy!r}")
    h = _norm_hash(text_col)
    base = turns.select(
        F.col(conv_col).alias("__conv"),
        F.col(order_col).alias("__ord"),
        h.alias("__h"),
    )
    if strategy == "bucketed":
        return _loop_stats_bucketed(
            base, conv_col, loop_frac_threshold, max_run_threshold, bucket_size
        )
    w_conv = Window.partitionBy("__conv").orderBy("__ord")
    # immediate repeat + run grouping: cumulative count of run BREAKS
    flagged = base.select(
        "__conv",
        "__ord",
        "__h",
        (F.lag("__h").over(w_conv) == F.col("__h")).cast("int").alias("__imm"),
    )
    flagged = flagged.withColumn(
        "__imm", F.coalesce(F.col("__imm"), F.lit(0))
    ).withColumn(
        "__brk",
        F.sum(1 - F.col("__imm")).over(
            Window.partitionBy("__conv")
            .orderBy("__ord")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # first occurrence of each normalized turn within the conversation
    first = F.min("__ord").over(Window.partitionBy("__conv", "__h"))
    flagged = flagged.withColumn(
        "__rep", (F.col("__ord") > first).cast("int")
    )
    per_run = flagged.groupBy("__conv", "__brk").agg(
        F.sum("__imm").alias("__run"),
        F.count(F.lit(1)).alias("__n"),
        F.sum("__rep").alias("__nr"),
    )
    out = per_run.groupBy("__conv").agg(
        F.sum("__n").cast("long").alias("n_turns"),
        F.sum("__nr").cast("long").alias("n_repeat_turns"),
        F.max("__run").cast("int").alias("max_imm_run"),
    )
    return out.select(
        F.col("__conv").alias(conv_col),
        "n_turns",
        "n_repeat_turns",
        F.round(F.col("n_repeat_turns") / F.col("n_turns"), 6).alias("loop_frac"),
        "max_imm_run",
        (
            (F.col("n_repeat_turns") / F.col("n_turns") >= loop_frac_threshold)
            | (F.col("max_imm_run") >= max_run_threshold)
        ).alias("is_looping"),
    )


def _loop_stats_bucketed(
    base: DataFrame,
    conv_col: str,
    loop_frac_threshold: float,
    max_run_threshold: int,
    bucket_size: int,
) -> DataFrame:
    """Hot-key-safe loop_stats core over (__conv, __ord, __h) rows —
    see loop_stats' docstring for the decomposition."""
    # a struct key groups and joins NULL conversations as one (see
    # temporal._keyed)
    base = base.withColumn("__conv", F.struct("__conv"))
    # repeats without any window: n_repeat = n_turns - distinct hashes
    per_hash = base.groupBy("__conv", "__h").agg(F.count(F.lit(1)).alias("__c"))
    rep = per_hash.groupBy("__conv").agg(
        F.sum("__c").cast("long").alias("n_turns"),
        (F.sum("__c") - F.count(F.lit(1))).cast("long").alias("n_repeat_turns"),
    )

    # bucket-local runs (window bounded by bucket_size rows)
    b = base.withColumn("__bucket", _bucketize(F.col("__ord"), bucket_size))
    wloc = Window.partitionBy("__conv", "__bucket").orderBy("__ord")
    imm = F.coalesce(
        (F.lag("__h").over(wloc) == F.col("__h")).cast("int"), F.lit(0)
    )
    fl = b.withColumn("__imm", imm).withColumn(
        "__lrun",
        F.sum(1 - F.col("__imm")).over(
            wloc.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    per_run = fl.groupBy("__conv", "__bucket", "__lrun").agg(
        F.count(F.lit(1)).alias("__n"), F.min("__h").alias("__rh")
    )
    per_bucket = per_run.groupBy("__conv", "__bucket").agg(
        F.min_by("__rh", "__lrun").alias("fh"),
        F.min_by("__n", "__lrun").alias("flen"),
        F.max_by("__rh", "__lrun").alias("lh"),
        F.max_by("__n", "__lrun").alias("llen"),
        F.max("__n").alias("mx"),
        F.count(F.lit(1)).alias("nruns"),
    )

    # stitch runs across bucket boundaries: fold the (few) per-bucket
    # summaries of each conversation in bucket order. Accumulator =
    # (best closed-run length, open-run length, open-run hash).
    summaries = F.array_sort(
        F.collect_list(
            F.struct("__bucket", "fh", "flen", "lh", "llen", "mx", "nruns")
        )
    )

    def merge(acc, s):
        ext = F.when(acc["ph"] == s["fh"], acc["plen"] + s["flen"]).otherwise(
            s["flen"]
        )
        closed = F.when(acc["ph"] == s["fh"], acc["best"]).otherwise(
            F.greatest(acc["best"], acc["plen"])
        )
        return F.when(
            s["nruns"] == 1,
            F.struct(
                closed.alias("best"), ext.alias("plen"), s["fh"].alias("ph")
            ),
        ).otherwise(
            F.struct(
                F.greatest(closed, ext, s["mx"]).alias("best"),
                s["llen"].alias("plen"),
                s["lh"].alias("ph"),
            )
        )

    runs = per_bucket.groupBy("__conv").agg(
        F.aggregate(
            summaries,
            F.struct(
                F.lit(0).cast("long").alias("best"),
                F.lit(0).cast("long").alias("plen"),
                F.lit(None).cast("string").alias("ph"),
            ),
            merge,
            lambda acc: F.greatest(acc["best"], acc["plen"]),
        ).alias("__maxrun")
    )

    out = rep.join(runs, "__conv").select(
        F.col("__conv.__conv").alias(conv_col),
        "n_turns",
        "n_repeat_turns",
        F.round(F.col("n_repeat_turns") / F.col("n_turns"), 6).alias("loop_frac"),
        (F.col("__maxrun") - 1).cast("int").alias("max_imm_run"),
        (
            (F.col("n_repeat_turns") / F.col("n_turns") >= loop_frac_threshold)
            | (F.col("__maxrun") - 1 >= max_run_threshold)
        ).alias("is_looping"),
    )
    return out


def render_conversations(
    turns: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    turn_sep: str = "\n",
    role_sep: str = ": ",
) -> DataFrame:
    """Render each conversation to one training-ready text blob:
    turns ordered by ``order_col``, each formatted ``role + role_sep +
    text``, joined by ``turn_sep``. The standard flattening before
    tokenization/packing (compose with ``bpe_tokenize`` and
    ``pack_conversations``).

    Output: (conv, text, n_turns, n_chars). ONE groupBy(conv) shuffle;
    order restored inside the aggregate via array_sort over
    (order, formatted) structs, so no window/sort stage precedes the
    aggregation and map-side partial aggregation stays enabled."""
    formatted = F.concat(
        F.coalesce(F.col(role_col).cast("string"), F.lit("")),
        F.lit(role_sep),
        F.coalesce(F.col(text_col).cast("string"), F.lit("")),
    )
    g = (
        turns.select(
            F.col(conv_col).alias("__conv"),
            F.col(order_col).alias("__ord"),
            formatted.alias("__f"),
        )
        .groupBy("__conv")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__ord", "__f"))),
                    lambda s: s["__f"],
                ),
                turn_sep,
            ).alias("text"),
            F.count(F.lit(1)).cast("long").alias("n_turns"),
        )
    )
    return g.select(
        F.col("__conv").alias(conv_col),
        "text",
        "n_turns",
        F.length("text").cast("long").alias("n_chars"),
    )


def truncate_conversations(
    turns: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    token_col: str = "n_tokens",
    budget: int = 4096,
    keep: str = "head",
    strategy: str = "window",
    bucket_size: int = 100_000,
) -> DataFrame:
    """Context-window trimming: keep each conversation's prefix
    (``keep="head"``) or suffix (``keep="tail"``) of whole turns whose
    cumulative ``token_col`` fits ``budget``; a turn that would cross
    the budget is dropped along with everything after (before) it.
    Turns are never split — the unit of meaning in a transcript is the
    turn, so a fit-to-context pass drops whole turns, unlike
    ``pack_sequences`` which may chunk raw documents.

    Output: the kept turns with ``cum_tokens`` (cumulative tokens in
    the kept direction, the turn's own tokens included).

    strategy="window" (default): ONE running-sum window per
    conversation key — same single hash-exchange contract as
    ``loop_stats``; a 10^9-turn conversation serializes its task.

    strategy="bucketed" (hot keys, NUMERIC ``order_col``): the running
    sum runs per (conv, ``floor(order / bucket_size)``) on top of a
    token carry-in from earlier buckets (temporal._carry_in); because
    cum_tokens is monotone, every bucket whose carry-in already exceeds
    ``budget`` is dropped BEFORE its window runs, so a 10^9-turn
    conversation only materializes the few leading buckets that can
    still fit.

    A turn with NULL tokens counts 0; ``token_col`` is cast to long
    PER TURN (token counts are integral — the per-row cast keeps the
    two strategies bit-identical, where a float sum would depend on
    the bucketed path's addition grouping).
    """
    if keep not in ("head", "tail"):
        raise ValueError(f"keep must be 'head' or 'tail', got {keep!r}")
    tok = F.coalesce(F.col(token_col).cast("long"), F.lit(0))
    if strategy == "bucketed":
        # sign-flip makes "tail" the ascending case too
        o = F.col(order_col) if keep == "head" else -F.col(order_col)
        b = turns.withColumn("__ord", o)
        b = b.withColumn("__bucket", _bucketize(F.col("__ord"), bucket_size))
        b = _carry_in(
            _keyed(b, [conv_col]), [F.sum(tok).alias("__t")],
            lambda w: [_sum_before("__t", w).alias("__carry")],
        )
        # monotone cumsum: a bucket whose carry-in busts the budget can
        # never contribute a kept row — prune it before the window
        b = b.where(F.col("__carry") <= budget)
        wl = (
            Window.partitionBy("__kk", "__bucket")
            .orderBy("__ord")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        out = b.withColumn(
            "cum_tokens", (F.col("__carry") + F.sum(tok).over(wl)).cast("long")
        )
        return out.where(F.col("cum_tokens") <= budget).drop(
            "__kk", "__ord", "__bucket", "__carry"
        )
    order = F.col(order_col).asc() if keep == "head" else F.col(order_col).desc()
    w = (
        Window.partitionBy(conv_col)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum(tok).over(w)
    out = turns.withColumn("cum_tokens", cum.cast("long"))
    return out.where(F.col("cum_tokens") <= budget)


def role_stats(
    turns: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    strategy: str = "window",
    bucket_size: int = 100_000,
) -> DataFrame:
    """Per-conversation role-protocol features: a well-formed
    user/assistant transcript alternates roles, opens with the user,
    and closes with the assistant — violations (double turns from one
    side, truncated endings) are quality signals for filtering and
    features for downstream models.

    Output per conversation:

    - ``n_turns``
    - ``n_distinct_roles``
    - ``n_same_role_adjacent``: adjacent turn pairs with equal role
      (0 in a strictly alternating dialogue)
    - ``first_role`` / ``last_role`` (by ``order_col``)

    Plan (strategy="window", default): lag window + rollup hang off ONE
    hash exchange on the conversation key (the groupBy reuses the
    window's clustering); first/last are min_by/max_by over the order
    column, so no second sort. NULL roles compare as distinct from
    every role (the adjacent flag treats NULL-vs-NULL as not-equal,
    matching SQL ``=``).

    strategy="bucketed" (hot-key safe, NUMERIC ``order_col``): the lag
    window is bounded to (conv, floor(order/bucket_size)); the
    bucket-boundary pairs come from a tiny per-bucket (first_role,
    last_role) table lag-joined in bucket order, and every rollup is a
    map-side-combined aggregation — no task scans a whole hot
    conversation.
    """
    if strategy not in ("window", "bucketed"):
        raise ValueError(f"unknown strategy {strategy!r}")
    base = turns.select(
        F.col(conv_col).alias("__conv"),
        F.col(order_col).alias("__ord"),
        F.col(role_col).cast("string").alias("__role"),
    )
    if strategy == "bucketed":
        # a struct key groups and joins NULL conversations as one (see
        # temporal._keyed)
        base = base.withColumn("__conv", F.struct("__conv"))
        b = base.withColumn("__bucket", _bucketize(F.col("__ord"), bucket_size))
        wloc = Window.partitionBy("__conv", "__bucket").orderBy("__ord")
        same = F.coalesce(
            (F.lag("__role").over(wloc) == F.col("__role")).cast("int"), F.lit(0)
        )
        per_bucket = (
            b.withColumn("__same", same)
            .groupBy("__conv", "__bucket")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                F.sum("__same").alias("__s"),
                F.min_by("__role", "__ord").alias("__first"),
                F.max_by("__role", "__ord").alias("__last"),
            )
        )
        # boundary pairs: previous bucket's last role vs this bucket's
        # first role — a lag over the small per-bucket table
        wb = Window.partitionBy("__conv").orderBy("__bucket")
        bounded = per_bucket.withColumn(
            "__bs",
            F.coalesce(
                (F.lag("__last").over(wb) == F.col("__first")).cast("int"),
                F.lit(0),
            ),
        )
        counts = bounded.groupBy("__conv").agg(
            F.sum("__n").cast("long").alias("n_turns"),
            (F.sum("__s") + F.sum("__bs")).cast("long").alias(
                "n_same_role_adjacent"
            ),
            F.min_by("__first", "__bucket").alias("first_role"),
            F.max_by("__last", "__bucket").alias("last_role"),
        )
        # NULL roles drop out, matching countDistinct's NULL handling
        distinct = (
            base.where(F.col("__role").isNotNull())
            .groupBy("__conv", "__role")
            .agg(F.count(F.lit(1)).alias("__c"))
            .groupBy("__conv")
            .agg(F.count(F.lit(1)).cast("long").alias("n_distinct_roles"))
        )
        # left join: an all-NULL-role conversation still rolls up
        # (n_distinct_roles 0), like countDistinct
        out = counts.join(distinct, "__conv", "left").select(
            F.col("__conv.__conv").alias(conv_col),
            "n_turns",
            F.coalesce("n_distinct_roles", F.lit(0)).cast("long").alias(
                "n_distinct_roles"
            ),
            "n_same_role_adjacent",
            "first_role",
            "last_role",
        )
        return out
    w_conv = Window.partitionBy("__conv").orderBy("__ord")
    flagged = base.withColumn(
        "__same",
        F.coalesce(
            (F.lag("__role").over(w_conv) == F.col("__role")).cast("int"),
            F.lit(0),
        ),
    )
    out = flagged.groupBy("__conv").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.countDistinct("__role").cast("long").alias("n_distinct_roles"),
        F.sum("__same").cast("long").alias("n_same_role_adjacent"),
        F.min_by("__role", "__ord").alias("first_role"),
        F.max_by("__role", "__ord").alias("last_role"),
    )
    return out.withColumnRenamed("__conv", conv_col)


def attach_outcome(
    turns: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    outcome_cols: tuple[str, ...] = ("role", "text"),
    prefix: str = "final_",
    strategy: str = "window",
    bucket_size: int = 100_000,
) -> DataFrame:
    """Label attachment for conversation-level supervision: copy the
    LAST turn's ``outcome_cols`` onto every turn of its conversation
    (``final_<col>``), plus ``turns_remaining`` (turns strictly after
    this one). The standard reward/outcome shape for RLHF-style or
    abandoned-conversation training sets: the outcome is decided at the
    end of the dialogue and every turn trains against it.

    This is a LABEL operator, not a feature operator — it reads the
    future BY DESIGN and therefore lives on the label side of the
    anchor: keep its outputs out of the feature set that
    plans/audit.py's zero-leakage audit covers (the audit would —
    correctly — flag them).

    Plan (strategy="window", default): ONE window exchange on the
    conversation key; the last-turn values ride an unbounded-FOLLOWING
    frame (last over the forward frame = values at max ``order_col``),
    ``turns_remaining`` a count over the same frame — no second sort,
    no join. Hot-key caveat as with_lags.

    strategy="bucketed" (hot-key safe, NUMERIC ``order_col``): one
    temporal._carry_in over (conv, ``floor(order / bucket_size)``)
    carries the row counts of earlier buckets, the conversation total
    and the last bucket's final-turn values (per-bucket ``max_by``);
    ``turns_remaining`` adds a per-(conv, bucket) row_number.
    """
    if strategy not in ("window", "bucketed"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "bucketed":
        b = turns.withColumn("__bucket", _bucketize(F.col(order_col), bucket_size))
        b = _carry_in(
            _keyed(b, [conv_col]),
            [
                F.count(F.lit(1)).alias("__n"),
                *[F.max_by(c, order_col).alias(f"__last_{c}") for c in outcome_cols],
            ],
            lambda w: [
                _sum_before("__n", w).alias("__carry"),
                F.sum("__n")
                .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
                .alias("__tot"),
                *[
                    F.last(f"__last_{c}")
                    .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
                    .alias(prefix + c)
                    for c in outcome_cols
                ],
            ],
        )
        wloc = Window.partitionBy("__kk", "__bucket").orderBy(order_col)
        out = b.withColumn(
            "turns_remaining",
            (F.col("__tot") - F.col("__carry") - F.row_number().over(wloc)).cast("long"),
        )
        # restore the window strategy's column order (input cols, then
        # final_*, then turns_remaining)
        return out.select(
            *turns.columns,
            *[prefix + c for c in outcome_cols],
            "turns_remaining",
        )
    w = (
        Window.partitionBy(conv_col)
        .orderBy(order_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    out = turns
    for c in outcome_cols:
        out = out.withColumn(prefix + c, F.last(c).over(w))
    return out.withColumn(
        "turns_remaining", (F.count(F.lit(1)).over(w) - 1).cast("long")
    )
