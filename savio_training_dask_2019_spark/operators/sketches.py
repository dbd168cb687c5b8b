"""Mergeable frequency sketches — Misra-Gries (which items are heavy) and
Count-Min (how often is THIS item), beside HLL (how many distinct) and KLL
(what quantile) in the sketch family.

Why this shape at 100 TB: exact per-item counts need a full (item → count)
shuffle — vocabulary-sized state through one aggregation. A mergeable
summary (Agarwal et al. 2012, "Mergeable Summaries", PODS '12) is the Dask
training's chunk/aggregate reduction instead: one narrow Arrow-batched pass
reduces each partition to a summary of bounded size, only the summaries
move, and a tiny merge combines them. The item stream never shuffles.

One implementation per sketch, over a tuple of group columns: the
ungrouped operators pass ``()``, the grouped ones ``(group_col,)``, and a
group's sketch is exactly the ungrouped sketch of that group's rows
(per-partition state is O(groups-in-partition · summary) — for
high-cardinality group columns pre-partition on the group). Per pandas
batch, :func:`_batch_mass` turns the rows into one int64 mass per distinct
``(*groups, item)`` — occurrences, or the summed integer ``weight_col``
(heavy DOMAINS by token mass rather than heavy tokens by occurrence) — and
each sketch folds those masses per group, so the hash or the prune runs
once per distinct item per batch, never per row.

Misra-Gries(k): per group <= k (item, est) counters plus the pruned mass.
The fold adds a batch's masses and prunes back to k (subtract the (k+1)-th
largest count, keep positives); merging partitions is the same add. For
every surviving item, ``est <= true <= est + err_bound`` where err_bound is
the total mass pruned — at most n/(k+1) — so any item with true frequency
> err_bound is GUARANTEED to survive. Estimates depend on where partition
and batch boundaries fall.

Count-Min(width, depth) (Cormode & Muthukrishnan 2005, J. Algorithms
55(1)): per group ``depth`` rows of ``width`` counters. Updates are pure
additions, so the sketch of a union is the ELEMENTWISE SUM of the sketches
and the merged table is PARTITION-INDEPENDENT (pinned in
tests/test_sketches.py). Per probe: est >= true always, and
est <= true + 2·N/width with probability 1 - (1/2)^depth. Hashing is
pandas' keyed siphash (:func:`_cms_buckets`, one fixed 16-byte key per
depth row) on both the build and the probe side, so the two can never
disagree and nothing depends on PYTHONHASHSEED. No SQL engine shares it, so
CMS queries are rows-only by contract, like every hash-seeded sketch here.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _sketch_input(
    df: DataFrame,
    group_cols: tuple[str, ...],
    item_col: str,
    weight_col: str | None,
) -> DataFrame:
    """The columns a sketch kernel reads: string group keys and item, and
    the weight as a long."""
    cols = [F.col(c).cast("string").alias(c) for c in (*group_cols, item_col)]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("long").alias(weight_col))
    return df.select(*cols)


def _batch_mass(
    pdf: pd.DataFrame,
    group_cols: tuple[str, ...],
    item_col: str,
    weight_col: str | None,
    op: str,
) -> pd.Series:
    """One pandas batch as int64 mass per distinct ``(*group_cols, item)``:
    its occurrences, or its summed ``weight_col``. Rows with a NULL key or
    weight drop out, and so do zero weights (zero mass must not occupy a
    summary slot). A negative weight raises, naming ``op``: counters that
    shrink break both est <= true <= est + err (Misra-Gries) and
    est >= true (Count-Min)."""
    keys = [*group_cols, item_col]
    if weight_col is None:
        return pdf[keys].dropna().groupby(keys, sort=False).size()
    w = pdf[[*keys, weight_col]].dropna()
    if (w[weight_col] < 0).any():
        raise ValueError(
            f"{op}: negative weights break the sketch's error contract"
        )
    w = w[w[weight_col] > 0]
    return w.groupby(keys, sort=False)[weight_col].sum().astype("int64")


def _by_group(
    mass: pd.Series, n_groups: int
) -> list[tuple[tuple, pd.Series]]:
    """Split a batch's masses into ``(group tuple, item-indexed masses)``;
    with no group columns the whole batch is the one group ``()``."""
    if not n_groups:
        return [((), mass)]
    levels = list(range(n_groups))
    return [
        (g, sub.droplevel(levels))
        for g, sub in mass.groupby(
            [mass.index.get_level_values(i) for i in levels], sort=False
        )
    ]


# --- Misra-Gries --------------------------------------------------------------


def _prune(counts: "pd.Series", k: int) -> tuple["pd.Series", int]:
    """Keep <= k items by subtracting the (k+1)-th largest count from all
    and dropping non-positives — the mergeable-summaries prune. Returns the
    pruned summary and the amount subtracted (the error this step adds)."""
    if len(counts) <= k:
        return counts, 0
    cut = int(counts.nlargest(k + 1).iloc[k])
    counts = counts - cut
    return counts[counts > 0], cut


def _mg_fold(
    counts: pd.Series, pruned: int, mass: pd.Series, k: int
) -> tuple[pd.Series, int]:
    """Fold one batch's masses into a Misra-Gries(k) summary: add, then
    prune back to k. The per-batch step of the partition kernel and of
    ``streaming.streaming_heavy_hitters``."""
    counts, cut = _prune(counts.add(mass, fill_value=0).astype("int64"), k)
    return counts, pruned + cut


def _misra_gries(
    df: DataFrame,
    group_cols: tuple[str, ...],
    item_col: str,
    k: int,
    weight_col: str | None,
    op: str,
) -> DataFrame:
    """Per-partition Misra-Gries(k) summaries: for every group seen in the
    partition (the one group ``()`` in every partition when ungrouped),
    <= k ``(*groups, item, est, 0)`` rows plus ONE
    ``(*groups, NULL, 0, pruned)`` error row. Output is
    O(partitions · groups · k) whatever the input size."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    n = len(group_cols)

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # the ungrouped summary of an empty partition is its error row
        state: dict[tuple, tuple[pd.Series, int]] = (
            {} if n else {(): (pd.Series(dtype="int64"), 0)}
        )
        for pdf in batches:
            mass = _batch_mass(pdf, group_cols, item_col, weight_col, op)
            for g, sub in _by_group(mass, n):
                counts, pruned = state.get(g, (pd.Series(dtype="int64"), 0))
                state[g] = _mg_fold(counts, pruned, sub, k)
        rows = []
        for g, (counts, pruned) in state.items():
            rows += [(*g, item, est, 0) for item, est in counts.items()]
            rows.append((*g, None, 0, pruned))
        yield pd.DataFrame(rows, columns=[*group_cols, "item", "est", "pruned"])

    schema = "".join(f"{c} string, " for c in group_cols)
    return _sketch_input(df, group_cols, item_col, weight_col).mapInPandas(
        summarize, schema + "item string, est long, pruned long"
    )


def misra_gries_summaries(
    df: DataFrame, item_col: str, k: int = 64, weight_col: str | None = None
) -> DataFrame:
    """Per-partition Misra-Gries(k) summaries: <= k rows of (item, est, 0)
    per partition plus ONE (NULL, 0, pruned_total) error row. ``weight_col``
    (integer, positive) counts mass instead of occurrences under the same
    contract."""
    return _misra_gries(df, (), item_col, k, weight_col, "misra_gries_summaries")


def _heavy_hitters(
    df: DataFrame,
    group_cols: tuple[str, ...],
    item_col: str,
    k: int,
    top: int,
    weight_col: str | None,
    op: str,
) -> DataFrame:
    """Merge the checkpointed summaries (two consumers: the per-item sums
    and the per-group error bound) and keep each group's ``top`` largest
    estimates. The cut is a TakeOrdered without groups, a group-partitioned
    ranking window with them: a window with no partition key would add a
    single-partition exchange."""
    summaries = _misra_gries(
        df, group_cols, item_col, k, weight_col, op
    ).localCheckpoint(eager=True)
    err = summaries.groupBy(*group_cols).agg(
        F.sum("pruned").cast("bigint").alias("err_bound")
    )
    merged = (
        summaries.where(F.col("item").isNotNull())
        .groupBy(*group_cols, "item")
        .agg(F.sum("est").cast("bigint").alias("est_count"))
    )
    ranked = merged.join(F.broadcast(err), list(group_cols) or None)
    order = [F.col("est_count").desc(), F.col("item").asc()]
    if not group_cols:
        return ranked.orderBy(*order).limit(top)
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        ranked.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= top)
        .drop("__rn")
    )


def heavy_hitters(
    df: DataFrame,
    item_col: str,
    k: int = 64,
    top: int = 20,
    weight_col: str | None = None,
) -> DataFrame:
    """Approximate top items — ``(item, est_count, err_bound)``: the
    ``top`` largest merged Misra-Gries(k) estimates with the global error
    bound attached. Contract (pinned in tests/test_sketches.py):
    ``est <= true <= est + err_bound`` for every returned item, and every
    item with true count > err_bound survives the sketch.

    Plan: narrow one-pass summaries → O(parts·k)-row shuffle on item →
    TakeOrdered cut; the error bound rides as a broadcast 1-row scalar
    agg."""
    return _heavy_hitters(df, (), item_col, k, top, weight_col, "heavy_hitters")


def grouped_heavy_hitters(
    df: DataFrame,
    group_col: str,
    item_col: str,
    k: int = 64,
    top: int = 10,
    weight_col: str | None = None,
) -> DataFrame:
    """Approximate top items PER GROUP — ``(g, item, est_count,
    err_bound)``: :func:`heavy_hitters` within each group (top tokens per
    language, heavy URLs per tenant). Within group g,
    est <= true <= est + err_bound(g), and any item with
    true > err_bound(g) survives.

    Plan: the same summaries pass and merge keyed (g, item), a
    groups-sized error agg broadcast back on g, and a g-partitioned
    ranking window for the cut."""
    return _heavy_hitters(
        df, (group_col,), item_col, k, top, weight_col, "grouped_heavy_hitters"
    ).withColumnRenamed(group_col, "g")


# --- Count-Min ----------------------------------------------------------------


def _cms_key(d: int) -> str:
    return f"cms{d:013d}"  # 16 bytes, one independent siphash row per depth


def _cms_buckets(values, d: int, width: int):
    import numpy as np

    arr = np.asarray(values, dtype=object)
    h = pd.util.hash_array(arr, hash_key=_cms_key(d), categorize=False)
    return (h % np.uint64(width)).astype("int64")


def _count_min(
    df: DataFrame,
    group_cols: tuple[str, ...],
    item_col: str,
    width: int,
    depth: int,
    weight_col: str | None,
    op: str,
) -> DataFrame:
    """Merged Count-Min tables: for every group, exactly ``depth`` rows of
    ``(*groups, d, counts array<long>[width])``. One narrow pass reduces
    each partition to a depth×width numpy table per group seen; only
    O(parts·groups·depth) rows move, merged by an O(groups·depth·width)
    posexplode + sum."""
    import numpy as np

    if width < 1 or depth < 1:
        raise ValueError(f"width/depth must be >= 1, got {width}/{depth}")
    n = len(group_cols)

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # the ungrouped table of an empty partition is all zeros, not absent
        tables = {} if n else {(): np.zeros((depth, width), dtype="int64")}
        for pdf in batches:
            mass = _batch_mass(pdf, group_cols, item_col, weight_col, op)
            for g, sub in _by_group(mass, n):
                tab = tables.get(g)
                if tab is None:
                    tab = tables[g] = np.zeros((depth, width), dtype="int64")
                for d in range(depth):
                    np.add.at(tab[d], _cms_buckets(sub.index, d, width), sub.values)
        rows = [
            (*g, d, row.tolist())
            for g, tab in tables.items()
            for d, row in enumerate(tab)
        ]
        yield pd.DataFrame(rows, columns=[*group_cols, "d", "counts"])

    schema = "".join(f"{c} string, " for c in group_cols)
    per_part = _sketch_input(df, group_cols, item_col, weight_col).mapInPandas(
        summarize, schema + "d int, counts array<long>"
    )
    return (
        per_part.select(*group_cols, "d", F.posexplode("counts").alias("pos", "c"))
        .groupBy(*group_cols, "d", "pos")
        .agg(F.sum("c").alias("c"))
        .groupBy(*group_cols, "d")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("counts")
        )
    )


def count_min_table(
    df: DataFrame,
    item_col: str,
    width: int = 2048,
    depth: int = 4,
    weight_col: str | None = None,
) -> DataFrame:
    """The merged Count-Min table: exactly ``depth`` rows of
    (d, counts array<long>[width]). ``weight_col`` accumulates integer mass
    instead of occurrences (negative weights raise — counters must only
    grow or the overcount-only guarantee dies)."""
    return _count_min(df, (), item_col, width, depth, weight_col, "count_min_table")


def grouped_count_min_table(
    df: DataFrame,
    group_col: str,
    item_col: str,
    width: int = 2048,
    depth: int = 4,
    weight_col: str | None = None,
) -> DataFrame:
    """PER-GROUP merged Count-Min tables: for every group value, exactly
    ``depth`` rows of (g, d, counts array<long>[width]) — per-language
    token frequencies, per-tenant URL counts. The bucket of an item does
    not depend on its group, so a group's table IS the ungrouped table of
    the group-filtered stream, bit for bit, and partition-independent
    (pinned in tests/test_sketches.py)."""
    return _count_min(
        df, (group_col,), item_col, width, depth, weight_col,
        "grouped_count_min_table",
    ).withColumnRenamed(group_col, "g")


@F.pandas_udf(T.ArrayType(T.IntegerType()))
def _probe_buckets(items: pd.Series, width: pd.Series, depth: pd.Series) -> pd.Series:
    """A string probe's Count-Min buckets in a ``width``×``depth`` table:
    the build side's keyed siphash (:func:`_cms_buckets`). NULL probes get
    NULL buckets (→ NULL est_count): the build side drops NULLs, so
    stringifying a NULL to the literal 'None' would return an arbitrary
    bucket's overcount instead. So does a probe with no table."""
    out = pd.Series([None] * len(items), dtype=object, index=items.index)
    live = items.notna() & (width > 0)
    shapes = [width[live].astype("int64"), depth[live].astype("int64")]
    for (w, n), sub in items[live].astype(str).groupby(shapes, sort=False):
        cols = [_cms_buckets(sub.values, d, w) for d in range(n)]
        out.loc[sub.index] = pd.Series([list(bs) for bs in zip(*cols)], index=sub.index)
    return out


def _cms_probe(
    table: DataFrame,
    probes: DataFrame,
    on: tuple[tuple[str, str], ...],
    item_col: str,
) -> DataFrame:
    """``probes`` plus ``est_count``, the CMS point query: the min over the
    depth rows of the probe's counter in its group's table. ``on`` pairs
    each table group column with the probe column it matches.

    Each group's table folds to ONE array<array<long>> row — bounded by the
    sketch parameters times the group cardinality, never by the data —
    attached by a left equi-join on the group keys (AQE broadcasts it while
    the folded side stays small), or by a 1-row broadcast crossJoin when
    there are none. Width and depth are read from the attached table, so
    the probe cannot disagree with the build; the min-of-counters is
    JVM-side zip_with + array_min."""
    keys = [f"__g{i}" for i in range(len(on))]
    folded = table.groupBy(
        *[F.col(t).alias(key) for (t, _), key in zip(on, keys)]
    ).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "counts"))),
            lambda s: s["counts"],
        ).alias("__cms")
    )
    if on:
        cond = [F.col(p).cast("string") == F.col(key) for (_, p), key in zip(on, keys)]
        attached = probes.join(folded, cond, "left")
    else:
        attached = probes.crossJoin(F.broadcast(folded))
    cms = F.col("__cms")
    return (
        attached.withColumn(
            "__bk",
            _probe_buckets(
                F.col(item_col).cast("string"),
                F.size(F.try_element_at(cms, F.lit(1))),
                F.size(cms),
            ),
        )
        .withColumn(
            "est_count",
            F.array_min(
                F.zip_with(
                    cms, "__bk", lambda row, b: F.element_at(row, b + F.lit(1))
                )
            ).cast("bigint"),
        )
        .drop("__bk", "__cms", *keys)
    )


def cms_estimates(table: DataFrame, probes: DataFrame, item_col: str) -> DataFrame:
    """``probes`` plus an ``est_count`` column against a
    :func:`count_min_table`. NULL probe items return a NULL ``est_count``
    (the build side drops NULLs, so NULL — not some bucket's overcount — is
    the only honest answer)."""
    return _cms_probe(table, probes, (), item_col)


def grouped_cms_estimates(
    table: DataFrame, probes: DataFrame, group_col: str, item_col: str
) -> DataFrame:
    """``probes`` (carrying a ``group_col`` and an ``item_col``) plus an
    ``est_count`` column: the CMS point query against THAT GROUP's table
    from :func:`grouped_count_min_table`. NULL probe items return NULL, and
    so does a probe whose group has no table — "no sketch" is not "count
    zero"."""
    return _cms_probe(table, probes, (("g", group_col),), item_col)
