"""Misra-Gries heavy hitters — the frequency member of the mergeable-sketch
family (HLL for cardinality, KLL for quantiles, MG for top items).

Why this shape at 100 TB: exact top-k over a token stream needs a full
(item → count) shuffle — vocabulary-sized state through one aggregation.
A Misra-Gries(k) summary is O(k) per partition, merges associatively
(Agarwal et al. 2012, "Mergeable Summaries", PODS '12: combine counts,
subtract the (k+1)-th largest, keep positives), and carries a deterministic
error contract: for every surviving item,

    est <= true <= est + err_bound

where err_bound is the total mass subtracted across all prunes — at most
n/(k+1). Any item with true frequency > err_bound is GUARANTEED to survive
(it cannot be decremented to zero). So the reduction is: per-partition O(k)
summaries (narrow, one pass) → one tiny union → an O(parts·k) final merge,
instead of a vocabulary-wide shuffle.

The per-partition pass is Arrow-batched and vectorized: each pandas batch
contributes its exact ``value_counts`` (C speed), which is then MERGED into
the running summary — the sequential textbook loop is never run per row.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SUMMARY_SCHEMA = "item string, est long, pruned long"


def _prune(counts: "pd.Series", k: int) -> tuple["pd.Series", int]:
    """Keep <= k items by subtracting the (k+1)-th largest count from all
    and dropping non-positives — the mergeable-summaries prune. Returns the
    pruned summary and the amount subtracted (the error this step adds)."""
    if len(counts) <= k:
        return counts, 0
    cut = int(counts.nlargest(k + 1).iloc[k])
    counts = counts - cut
    return counts[counts > 0], cut


def misra_gries_summaries(
    df: DataFrame, item_col: str, k: int = 64, weight_col: str | None = None
) -> DataFrame:
    """Per-partition Misra-Gries(k) summaries: <= k rows of (item, est, 0)
    per partition plus ONE (NULL, 0, pruned_total) error row. Output is
    O(partitions · k) whatever the input size.

    ``weight_col`` (integer) generalizes to weighted frequencies — heavy
    DOMAINS by token mass instead of heavy tokens by occurrence — with the
    same contract: est <= true_weight <= est + err (the weighted MG of the
    mergeable-summaries paper; the prune subtracts the (k+1)-th largest
    weighted mass). Weights must be POSITIVE — the contract is meaningless
    under negative mass, so a negative weight raises (in the task); zero-
    weight rows are dropped rather than wasting summary slots."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts = pd.Series(dtype="int64")
        pruned = 0
        for pdf in batches:
            col = pdf[item_col]
            if weight_col is None:
                batch = col.dropna().value_counts()
            else:
                w = pdf[[item_col, weight_col]].dropna()
                if (w[weight_col] < 0).any():
                    raise ValueError(
                        "misra_gries_summaries: negative weights break the "
                        "est <= true <= est + err contract"
                    )
                w = w[w[weight_col] > 0]  # zero mass must not occupy a slot
                batch = w.groupby(item_col, sort=False)[weight_col].sum()
            counts = counts.add(batch, fill_value=0).astype("int64")
            counts, cut = _prune(counts, k)
            pruned += cut
        out = pd.DataFrame(
            {"item": counts.index.astype(str), "est": counts.values}
        )
        out["pruned"] = 0
        err = pd.DataFrame({"item": [None], "est": [0], "pruned": [pruned]})
        yield pd.concat([out, err], ignore_index=True)

    cols = [F.col(item_col).cast("string").alias(item_col)]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("long").alias(weight_col))
    return df.select(*cols).mapInPandas(summarize, _SUMMARY_SCHEMA)


def heavy_hitters(
    df: DataFrame,
    item_col: str,
    k: int = 64,
    top: int = 20,
    weight_col: str | None = None,
) -> DataFrame:
    """Approximate top items: merge the per-partition Misra-Gries(k)
    summaries and return the ``top`` largest estimates with the global
    error bound attached. Contract (pinned in tests/test_sketches.py):
    ``est <= true <= est + err_bound`` for every returned item, and every
    item with true count > err_bound survives the sketch.

    Plan: narrow one-pass summaries → O(parts·k)-row shuffle on item →
    TakeOrdered cut; the error bound rides as a broadcast 1-row scalar
    agg. The token stream itself never shuffles."""
    summaries = misra_gries_summaries(df, item_col, k=k, weight_col=weight_col)
    # one tiny frame feeds both branches; without a checkpoint each branch
    # would re-run the full per-partition summarize pass over the corpus
    summaries = summaries.localCheckpoint(eager=True)
    err = F.broadcast(
        summaries.agg(F.sum("pruned").cast("bigint").alias("err_bound"))
    )
    merged = (
        summaries.where(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.sum("est").cast("bigint").alias("est_count"))
    )
    return (
        merged.crossJoin(err)
        .orderBy(F.col("est_count").desc(), F.col("item").asc())
        .limit(top)
    )


_GROUPED_SUMMARY_SCHEMA = "g string, item string, est long, pruned long"


def grouped_misra_gries_summaries(
    df: DataFrame,
    group_col: str,
    item_col: str,
    k: int = 64,
    weight_col: str | None = None,
) -> DataFrame:
    """PER-GROUP per-partition Misra-Gries(k): for every group value seen
    in the partition, <= k (g, item, est, 0) rows plus ONE (g, NULL, 0,
    pruned) error row — the grouped tier of the summary family (top tokens
    PER LANGUAGE, heavy URLs per tenant). Output is O(partitions · groups
    · k); the item stream never shuffles. The per-group error contract is
    the ungrouped one applied within each group: est <= true <= est +
    err(g).

    Memory note: per-partition state is O(groups-in-partition · k) — for
    high-cardinality group columns pre-partition by group (repartition on
    g) so each task holds only its groups' sketches; the catalog query's
    group is `lang` (a handful of values), where any partitioning is fine.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state: dict[str, pd.Series] = {}
        pruned: dict[str, int] = {}
        sel = [group_col, item_col] + ([weight_col] if weight_col else [])
        for pdf in batches:
            cols = pdf[sel].dropna(subset=[group_col, item_col])
            if weight_col is None:
                batch = cols.groupby([group_col, item_col], sort=False).size()
            else:
                if (cols[weight_col] < 0).any():
                    raise ValueError(
                        "grouped_misra_gries_summaries: negative weights "
                        "break the est <= true <= est + err contract"
                    )
                cols = cols[cols[weight_col] > 0]
                batch = cols.groupby([group_col, item_col], sort=False)[
                    weight_col
                ].sum()
            for g, sub in batch.groupby(level=0, sort=False):
                s = sub.droplevel(0).astype("int64")
                cur = state.get(g)
                cur = s if cur is None else cur.add(s, fill_value=0).astype("int64")
                cur, cut = _prune(cur, k)
                state[g] = cur
                pruned[g] = pruned.get(g, 0) + cut
        frames = []
        for g, counts in state.items():
            frames.append(
                pd.DataFrame(
                    {
                        "g": g,
                        "item": counts.index.astype(str),
                        "est": counts.values,
                        "pruned": 0,
                    }
                )
            )
            frames.append(
                pd.DataFrame(
                    {"g": [g], "item": [None], "est": [0], "pruned": [pruned[g]]}
                )
            )
        if frames:
            yield pd.concat(frames, ignore_index=True)
        else:
            yield pd.DataFrame(
                {"g": [], "item": [], "est": [], "pruned": []}
            ).astype({"g": str, "item": str, "est": "int64", "pruned": "int64"})

    cols = [
        F.col(group_col).cast("string").alias(group_col),
        F.col(item_col).cast("string").alias(item_col),
    ]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("long").alias(weight_col))
    return df.select(*cols).mapInPandas(summarize, _GROUPED_SUMMARY_SCHEMA)


def grouped_heavy_hitters(
    df: DataFrame,
    group_col: str,
    item_col: str,
    k: int = 64,
    top: int = 10,
    weight_col: str | None = None,
) -> DataFrame:
    """Approximate top items PER GROUP: merge the per-partition grouped
    summaries and keep each group's ``top`` largest estimates with that
    group's error bound attached — ``(g, item, est_count, err_bound)``.
    Same contract as :func:`heavy_hitters`, scoped per group: within group
    g, est <= true <= est + err_bound(g), and any item with
    true > err_bound(g) survives.

    Plan: one narrow summaries pass (checkpointed — two consumers), an
    O(parts·groups·k)-row shuffle keyed (g, item), a groups-sized error
    agg joined back on g, and a g-partitioned ranking window for the cut.
    """
    summaries = grouped_misra_gries_summaries(
        df, group_col, item_col, k=k, weight_col=weight_col
    ).localCheckpoint(eager=True)
    err = summaries.groupBy("g").agg(
        F.sum("pruned").cast("bigint").alias("err_bound")
    )
    merged = (
        summaries.where(F.col("item").isNotNull())
        .groupBy("g", "item")
        .agg(F.sum("est").cast("bigint").alias("est_count"))
    )
    w = Window.partitionBy("g").orderBy(
        F.col("est_count").desc(), F.col("item").asc()
    )
    return (
        merged.join(err, "g")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= top)
        .drop("__rn")
    )


# --- Count-Min sketch ---------------------------------------------------------
#
# The point-frequency member of the mergeable-sketch family (Cormode &
# Muthukrishnan 2005, "An improved data stream summary: the count-min sketch
# and its applications", J. Algorithms 55(1)): HLL answers "how many
# distinct", KLL "what quantile", Misra-Gries "which items are heavy", CMS
# "how often is THIS item" for any item, in O(depth·width) space.
#
# Why it merges exactly: a CMS is depth hash rows of width counters and
# updates are pure additions, so the sketch of a union is the ELEMENTWISE SUM
# of the sketches — per-partition tables combine with no error beyond what
# each table already carries, and (unlike Misra-Gries) the merged estimates
# are PARTITION-INDEPENDENT: any partitioning of the same rows yields the
# same table (pinned in tests/test_sketches.py). Guarantee per probe:
# est >= true always (counters only overcount), and
# est <= true + 2·N/width with probability 1 - (1/2)^depth.
#
# Hashing: pandas' keyed siphash (``pd.util.hash_array``; fixed 16-byte key
# per depth row), evaluated Arrow-batched on BOTH the build side and the
# probe side — the two can never disagree, and nothing depends on
# PYTHONHASHSEED. No SQL engine shares it, so CMS queries are rows-only by
# contract, like every hash-seeded sketch here.

_CMS_SCHEMA = "d int, counts array<long>"


def _cms_key(d: int) -> str:
    return f"cms{d:013d}"  # 16 bytes, one independent siphash row per depth


def _cms_buckets(values, d: int, width: int):
    import numpy as np

    arr = np.asarray(values, dtype=object)
    h = pd.util.hash_array(arr, hash_key=_cms_key(d), categorize=False)
    return (h % np.uint64(width)).astype("int64")


def count_min_table(
    df: DataFrame,
    item_col: str,
    width: int = 2048,
    depth: int = 4,
    weight_col: str | None = None,
) -> DataFrame:
    """The merged Count-Min table: exactly ``depth`` rows of
    (d, counts array<long>[width]).

    Plan shape (the sketch-family contract): one narrow Arrow-batched pass
    reduces each partition to a depth×width numpy table (per batch the
    items are bucketed by exact ``value_counts`` first, so the hash runs
    once per DISTINCT item per batch, not once per row); only the
    O(parts·depth) summary rows move, merged by an O(depth·width)
    posexplode + sum — the item stream itself never shuffles.
    ``weight_col`` accumulates integer mass instead of occurrences
    (negative weights raise — counters must only grow or the
    overcount-only guarantee dies)."""
    import numpy as np

    if width < 1 or depth < 1:
        raise ValueError(f"width/depth must be >= 1, got {width}/{depth}")

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        table = np.zeros((depth, width), dtype="int64")
        for pdf in batches:
            if weight_col is None:
                batch = pdf[item_col].dropna().value_counts()
            else:
                w = pdf[[item_col, weight_col]].dropna()
                if (w[weight_col] < 0).any():
                    raise ValueError(
                        "count_min_table: negative weights break the "
                        "overcount-only guarantee"
                    )
                batch = w.groupby(item_col, sort=False)[weight_col].sum()
            if not len(batch):
                continue
            counts = batch.values.astype("int64")
            for d in range(depth):
                np.add.at(
                    table[d], _cms_buckets(batch.index, d, width), counts
                )
        yield pd.DataFrame(
            {"d": range(depth), "counts": [row.tolist() for row in table]}
        )

    cols = [F.col(item_col).cast("string").alias(item_col)]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("long").alias(weight_col))
    per_part = df.select(*cols).mapInPandas(summarize, _CMS_SCHEMA)
    return (
        per_part.select("d", F.posexplode("counts").alias("pos", "c"))
        .groupBy("d", "pos")
        .agg(F.sum("c").alias("c"))
        .groupBy("d")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("counts")
        )
    )


_GROUPED_CMS_SCHEMA = "g string, d int, counts array<long>"


def grouped_count_min_table(
    df: DataFrame,
    group_col: str,
    item_col: str,
    width: int = 2048,
    depth: int = 4,
    weight_col: str | None = None,
) -> DataFrame:
    """PER-GROUP merged Count-Min tables: for every group value, exactly
    ``depth`` rows of (g, d, counts array<long>[width]) — the grouped tier
    of the CMS family (per-language token frequencies, per-tenant URL
    counts), completing the grouped sketch set next to grouped MG (r11)
    and grouped KLL (r11).

    Same exact-merge property as the ungrouped table, applied within each
    group: updates are pure additions, so each group's merged table is the
    elementwise sum of its per-partition tables and is PARTITION-
    INDEPENDENT — identical to building a separate CMS over only that
    group's rows (pinned in tests/test_sketches.py). Hash rows are keyed
    siphash shared with the ungrouped build (the bucket of an item does
    not depend on its group), so a group's table IS the ungrouped table of
    the group-filtered stream, bit for bit.

    Plan shape: one narrow Arrow-batched pass reduces each partition to a
    depth×width table PER GROUP SEEN (per batch the items are bucketed by
    exact per-group value_counts first — the hash runs once per distinct
    (g, item) per batch); only O(parts·groups·depth) summary rows move,
    merged by an O(groups·depth·width) posexplode + sum. The item stream
    never shuffles.

    Memory note (the grouped-MG one): per-partition state is
    O(groups-in-partition · depth · width) — for high-cardinality group
    columns pre-partition on the group so each task holds only its groups'
    tables; the catalog query's group is ``lang`` (a handful of values).
    """
    import numpy as np

    if width < 1 or depth < 1:
        raise ValueError(f"width/depth must be >= 1, got {width}/{depth}")

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tables: dict[str, "np.ndarray"] = {}
        sel = [group_col, item_col] + ([weight_col] if weight_col else [])
        for pdf in batches:
            cols = pdf[sel].dropna(subset=[group_col, item_col])
            if weight_col is None:
                batch = cols.groupby([group_col, item_col], sort=False).size()
            else:
                if (cols[weight_col] < 0).any():
                    raise ValueError(
                        "grouped_count_min_table: negative weights break "
                        "the overcount-only guarantee"
                    )
                batch = cols.groupby([group_col, item_col], sort=False)[
                    weight_col
                ].sum()
            for g, sub in batch.groupby(level=0, sort=False):
                items = sub.droplevel(0)
                counts = items.values.astype("int64")
                tab = tables.get(g)
                if tab is None:
                    tab = tables[g] = np.zeros((depth, width), dtype="int64")
                for d in range(depth):
                    np.add.at(
                        tab[d], _cms_buckets(items.index, d, width), counts
                    )
        frames = [
            pd.DataFrame(
                {
                    "g": g,
                    "d": range(depth),
                    "counts": [row.tolist() for row in tab],
                }
            )
            for g, tab in tables.items()
        ]
        if frames:
            yield pd.concat(frames, ignore_index=True)
        else:
            # counts must be object-dtyped: an empty float64 column can't
            # convert to Arrow list<int64>
            yield pd.DataFrame(
                {
                    "g": pd.Series([], dtype=str),
                    "d": pd.Series([], dtype="int32"),
                    "counts": pd.Series([], dtype=object),
                }
            )

    cols = [
        F.col(group_col).cast("string").alias(group_col),
        F.col(item_col).cast("string").alias(item_col),
    ]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("long").alias(weight_col))
    per_part = df.select(*cols).mapInPandas(summarize, _GROUPED_CMS_SCHEMA)
    return (
        per_part.select("g", "d", F.posexplode("counts").alias("pos", "c"))
        .groupBy("g", "d", "pos")
        .agg(F.sum("c").alias("c"))
        .groupBy("g", "d")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("counts")
        )
    )


def _probe_buckets(width: int, depth: int):
    """The Arrow-batched pandas_udf giving a string probe its ``depth``
    Count-Min buckets: the build side's keyed siphash (:func:`_cms_buckets`)
    over a ``width``-wide table. NULL probes get NULL buckets (→ NULL
    est_count): the build side drops NULLs, so stringifying a NULL to the
    literal 'None' would return an arbitrary bucket's overcount instead
    (ADVICE r10)."""
    from pyspark.sql import types as T

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def buckets(items: pd.Series) -> pd.Series:
        out = pd.Series([None] * len(items), dtype=object, index=items.index)
        nn = items.dropna().astype(str)
        if len(nn):
            cols = [_cms_buckets(nn.values, d, width) for d in range(depth)]
            out.loc[nn.index] = pd.Series(
                [list(bs) for bs in zip(*cols)], index=nn.index
            )
        return out

    return buckets


def grouped_cms_estimates(
    table: DataFrame,
    probes: DataFrame,
    group_col: str,
    item_col: str,
    width: int = 2048,
    depth: int = 4,
) -> DataFrame:
    """``probes`` (carrying a ``group_col`` and an ``item_col``) plus an
    ``est_count`` column: the CMS point query against THAT GROUP's table.
    ``width``/``depth`` MUST match the build parameters.

    NULL probe items return NULL (build side drops NULLs — the ungrouped
    rule); a probe whose group has no table (group never seen) also
    returns NULL, not 0 — "no sketch" is not "count zero".

    Plan: each group's table folds to ONE (g, array<array<long>>) row —
    O(groups·depth·width) longs, bounded by the sketch parameters times
    the group cardinality, never by the data — attached by an equi-join on
    g (AQE broadcasts it while the folded side stays small); probe buckets
    come from the same Arrow-batched keyed-siphash UDF as the build, and
    the min-of-counters is JVM-side zip_with + array_min."""
    folded = table.groupBy(F.col("g").alias("__g")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "counts"))),
            lambda s: s["counts"],
        ).alias("__cms")
    )
    return (
        probes.withColumn(
            "__bk", _probe_buckets(width, depth)(F.col(item_col).cast("string"))
        )
        .join(
            folded,
            F.col(group_col).cast("string") == F.col("__g"),
            "left",
        )
        .withColumn(
            "est_count",
            F.array_min(
                F.zip_with(
                    "__cms",
                    "__bk",
                    lambda row, b: F.element_at(row, b + F.lit(1)),
                )
            ).cast("bigint"),
        )
        .drop("__bk", "__cms", "__g")
    )


def cms_estimates(
    table: DataFrame,
    probes: DataFrame,
    item_col: str,
    width: int = 2048,
    depth: int = 4,
) -> DataFrame:
    """``probes`` plus an ``est_count`` column: min over the ``depth`` rows
    of the probe's counter — the classic CMS point query. ``width``/
    ``depth`` MUST match the table's build parameters (the hash keys are
    derived from the depth index).

    NULL probe items return a NULL ``est_count`` (the build side drops
    NULLs, so 0/NULL — not some bucket's overcount — is the only honest
    answer).

    Plan: the table folds into ONE array-of-arrays row — O(depth·width)
    longs, bounded by the sketch parameters, never by the data — attached
    by broadcast crossJoin (the 1-row model-attach pattern); probe buckets
    come from one Arrow-batched pandas_udf sharing the build-side hash, and
    the min-of-counters is JVM-side ``zip_with`` + ``array_min``."""
    folded = table.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "counts"))),
            lambda s: s["counts"],
        ).alias("__cms")
    )
    return (
        probes.withColumn(
            "__bk", _probe_buckets(width, depth)(F.col(item_col).cast("string"))
        )
        .crossJoin(F.broadcast(folded))
        .withColumn(
            "est_count",
            F.array_min(
                F.zip_with(
                    "__cms",
                    "__bk",
                    lambda row, b: F.element_at(row, b + F.lit(1)),
                )
            ).cast("bigint"),
        )
        .drop("__bk", "__cms")
    )
