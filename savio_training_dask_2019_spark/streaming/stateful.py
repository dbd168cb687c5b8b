"""Arbitrary stateful streaming (SURVEY.md §2.8 stretch):
``applyInPandasWithState`` — the escape hatch for operators windowed aggs
can't express (running totals that never expire, custom session logic,
online models).

State design rules at scale: state is per-key and lives in the state store,
so it must be O(1) per key (scalars here, never row buffers), and every
stateful operator needs either a watermark-based timeout or an explicit
eviction policy — unbounded key cardinality with no timeout is a memory leak
spread across the cluster.

Note on ``transformWithStateInPandas`` (the newer typed-state API,
ValueState/ListState/MapState + RocksDB): present in this PySpark build but
its streaming Python driver worker requires the ``protobuf`` package, which
is absent in this container (round 2: ``google.protobuf.descriptor`` import
failed; round-5 re-probe 2026-08-13, round-8 and round-9 re-probes
2026-08-14: the ``google`` package is still missing entirely, while the
``StatefulProcessor`` API surface itself imports fine —
the blocker is purely the wire-protocol dependency).
``applyInPandasWithState`` below is the
supported arbitrary-stateful path here; the TWS upgrade is mechanical once
the dependency exists — tests/test_streaming.py::test_transform_with_state_smoke
carries a full ValueState running-totals smoke that auto-activates (and a
skip that re-documents the probe) the moment protobuf appears.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def running_totals(
    df: DataFrame,
    key: str = "user_id",
    value: str = "value",
    output_mode: str = "update",
) -> DataFrame:
    """Per-key running (count, sum) maintained across micro-batches.

    Works on a streaming DataFrame grouped by ``key``; state per key is two
    scalars. In batch mode Spark runs the same function with empty initial
    state per key, so the operator is testable both ways."""

    def update(
        key_tuple: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {key: [key_tuple[0]], "n_events": [n], "total_value": [round(total, 4)]}
        )

    key_type = df.schema[key].dataType.simpleString()  # not just long (r9)
    return df.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=f"{key} {key_type}, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_heavy_hitters(
    df: DataFrame,
    group_key: str = "user_id",
    item: str = "event_type",
    k: int = 8,
    output_mode: str = "update",
    weight_col: str | None = None,
) -> DataFrame:
    """Streaming Misra-Gries heavy hitters: per ``group_key``, an MG(``k``)
    summary of ``item`` values maintained across micro-batches — the
    streaming twin of ``operators.sketches.heavy_hitters``, carrying the
    same contract (``est <= true <= est + err`` per group, any item with
    true count > err survives).

    State per key is EXACTLY the mergeable summary: <= k (item, est) pairs
    plus one pruned-mass counter — O(k) scalars, never a row buffer, so
    key cardinality × k bounds cluster state (the state-design rule at the
    top of this module). Each batch folds in through the batch operator's
    own per-batch mass and add-then-prune step (``sketches._batch_mass``,
    ``sketches._mg_fold``). Emits the full summary per updated key each batch:
    (group, item, est, err).

    ``weight_col`` mirrors the batch operator: weighted frequencies (heavy
    domains by token mass across a stream) under the same contract —
    weights must be positive (negative raises, zero rows are dropped
    rather than occupying summary slots)."""
    from ..operators.sketches import _batch_mass, _mg_fold

    def update(
        key_tuple: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            items, ests, pruned = state.get
            counts = pd.Series(list(ests), index=list(items), dtype="int64")
        else:
            counts, pruned = pd.Series(dtype="int64"), 0
        for pdf in pdfs:
            mass = _batch_mass(pdf, (), item, weight_col, "streaming_heavy_hitters")
            # str items like the batch operator: state declares
            # array<string>, and a raw-typed index would split the same
            # item across entries after a state round-trip
            mass.index = mass.index.astype(str)
            counts, pruned = _mg_fold(counts, pruned, mass, k)
        state.update((list(counts.index), [int(x) for x in counts.values], pruned))
        yield pd.DataFrame(
            {
                group_key: key_tuple[0],
                "item": counts.index.astype(str),
                "est": counts.values.astype("int64"),
                "err": pruned,
            }
        )

    key_type = df.schema[group_key].dataType.simpleString()  # not just long
    return df.groupBy(group_key).applyInPandasWithState(
        update,
        outputStructType=f"{group_key} {key_type}, item string, est long, err long",
        stateStructType="items array<string>, ests array<long>, pruned long",
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def psi_from_counts(
    cur: dict, ref: dict, eps: float = 1e-6
) -> tuple[float, dict]:
    """Eps-floored Population Stability Index between two class-count
    dicts — the same per-class term as the batch monitors
    (``queries.timeseries.q_drift_psi`` / ``q_drift_psi_windowed``):
    shares floored at ``eps`` so a class absent from either side
    contributes a large FINITE term. Pure Python on classes-sized dicts —
    this runs on aggregation RESULTS, never on rows. Returns
    (psi rounded 4, {class: term rounded 6})."""
    import math

    tc, tr = sum(cur.values()), sum(ref.values())
    terms: dict = {}
    for cls in sorted(set(cur) | set(ref)):
        pc = (cur.get(cls, 0) / tc) if tc > 0 else 0.0
        pr = (ref.get(cls, 0) / tr) if tr > 0 else 0.0
        pc, pr = max(pc, eps), max(pr, eps)
        terms[cls] = round((pc - pr) * math.log(pc / pr), 6)
    return round(sum(terms.values()), 4), terms


class DriftMonitor:
    """Streaming drift monitor: each micro-batch's class mix is scored
    against a trailing reference of the previous ``ref_batches`` batches —
    the streaming twin of ``queries.timeseries.q_drift_psi_windowed``,
    wired as a ``foreachBatch`` handle (pass an instance to
    :func:`streaming.foreach_batch_sink`).

    Architecture (Spark-first): drift is a per-batch O(classes)
    computation, so the right shape is foreachBatch — each micro-batch
    runs a DISTRIBUTED ``groupBy(item).count()`` (full parallelism,
    map-side combine) and only the classes-sized count table reaches the
    driver, where a bounded ring of the last ``ref_batches`` count dicts
    (O(classes·ref_batches) ints, whatever the stream volume) provides
    the reference mix. A stateful-UDF formulation was rejected: keying by
    class means ABSENT classes — the loudest drift signal — never fire
    their update without timeouts, and a single global key would funnel
    the whole stream through one task.

    Exactly-once: a replayed ``batch_id`` (recovery re-runs the last
    uncommitted batch) is skipped idempotently, so the reference ring
    never double-counts a batch. Batches before the reference has any
    data record ``psi=None`` (no alarm before a baseline exists — same
    rule as the batch twin). Results accumulate on the instance as
    ``(batch_id, psi, n_cur, n_ref)`` rows in ``.results``; per-class
    terms for the latest batch sit in ``.last_terms``."""

    def __init__(
        self, item: str = "event_type", ref_batches: int = 7, eps: float = 1e-6
    ) -> None:
        from collections import deque

        self.item = item
        self.eps = eps
        self.results: list[tuple[int, float | None, int, int]] = []
        self.last_terms: dict = {}
        self._ring: "deque[dict]" = deque(maxlen=ref_batches)
        self._seen: set[int] = set()

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self._seen:  # recovery replay — idempotent skip
            return
        self._seen.add(batch_id)
        cur = {
            r[0]: r[1]
            for r in batch_df.groupBy(self.item).count().collect()
            if r[0] is not None
        }
        ref: dict = {}
        for past in self._ring:
            for cls, n in past.items():
                ref[cls] = ref.get(cls, 0) + n
        n_cur, n_ref = sum(cur.values()), sum(ref.values())
        if n_ref > 0:
            psi, self.last_terms = psi_from_counts(cur, ref, self.eps)
        else:
            psi, self.last_terms = None, {}
        self.results.append((batch_id, psi, n_cur, n_ref))
        self._ring.append(cur)


def ks_from_bin_counts(
    cur: dict, ref: dict
) -> tuple[float, "int | None"]:
    """Two-sample Kolmogorov–Smirnov statistic between two bin-count dicts
    — the same binned-CDF terms as the batch monitor
    (``queries.timeseries.q_drift_ks``): D = max over bins of
    |cumF_cur - cumF_ref|, where each cumulative share is an exact integer
    count divided once (no float accumulation). Pure Python on bins-sized
    dicts — this runs on aggregation RESULTS, never on rows. Returns
    (D rounded 6, argmax bucket — the value region driving the drift;
    None when either side is empty)."""
    tc, tr = sum(cur.values()), sum(ref.values())
    if tc == 0 or tr == 0:
        return 0.0, None
    ca = cr = 0
    best, arg = -1.0, None
    for b in sorted(set(cur) | set(ref)):
        ca += cur.get(b, 0)
        cr += ref.get(b, 0)
        d = abs(ca / tc - cr / tr)
        if d > best:
            best, arg = d, b
    return round(best, 6), arg


class NumericDriftMonitor:
    """Streaming NUMERIC drift monitor — the KS member of the streaming
    drift family (``DriftMonitor`` watches a categorical mix with PSI;
    this watches a continuous column's distribution): each micro-batch's
    frozen-width bin histogram is scored against a trailing reference of
    the previous ``ref_batches`` batches with the two-sample KS statistic,
    the streaming twin of ``queries.timeseries.q_drift_ks``.

    Same foreachBatch architecture and rationale as ``DriftMonitor``:
    the batch runs a DISTRIBUTED bucketed ``groupBy().count()`` (bin edges
    FROZEN at construction — drift shows up in the bins, not as
    re-binning; top bin clamped), only the O(n_bins) count table reaches
    the driver, the ring holds O(n_bins·ref_batches) ints at any stream
    volume, and a replayed ``batch_id`` is skipped idempotently. Batches
    before the reference has data record ``d=None`` (no alarm before a
    baseline). Results accumulate as ``(batch_id, d, argmax_bucket,
    n_cur, n_ref)`` rows in ``.results``."""

    def __init__(
        self,
        value: str = "value",
        bin_width: float = 8.0,
        n_bins: int = 64,
        ref_batches: int = 7,
    ) -> None:
        from collections import deque

        self.value = value
        self.bin_width = float(bin_width)
        self.n_bins = int(n_bins)
        self.results: "list[tuple[int, float | None, int | None, int, int]]" = []
        self._ring: "deque[dict]" = deque(maxlen=ref_batches)
        self._seen: "set[int]" = set()

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self._seen:  # recovery replay — idempotent skip
            return
        self._seen.add(batch_id)
        bucket = F.least(
            F.greatest(
                F.floor(F.col(self.value) / F.lit(self.bin_width)), F.lit(0)
            ),
            F.lit(self.n_bins - 1),
        ).cast("int")
        cur = {
            r[0]: r[1]
            for r in batch_df.where(F.col(self.value).isNotNull())
            .groupBy(bucket.alias("b"))
            .count()
            .collect()
        }
        ref: dict = {}
        for past in self._ring:
            for b, n in past.items():
                ref[b] = ref.get(b, 0) + n
        n_cur, n_ref = sum(cur.values()), sum(ref.values())
        if n_ref > 0 and n_cur > 0:
            d, arg = ks_from_bin_counts(cur, ref)
        else:
            d, arg = None, None
        self.results.append((batch_id, d, arg, n_cur, n_ref))
        self._ring.append(cur)


class StreamingCountMin:
    """Streaming Count-Min accumulator — the streaming twin of
    ``operators.sketches.count_min_table``, wired as a ``foreachBatch``
    handle (pass an instance to :func:`streaming.foreach_batch_sink`):
    point-frequency estimates over everything the stream has carried so
    far, in O(depth·width) driver memory whatever the stream volume.

    Architecture (Spark-first): each micro-batch builds its merged CMS
    table DISTRIBUTED (the batch operator unchanged: narrow Arrow-batched
    per-partition tables, posexplode+sum merge), and only the depth rows
    of width counters reach the driver, where they fold into the running
    table by elementwise sum. Because CMS merge IS elementwise sum, the
    accumulated table is EXACTLY the table a single batch build over the
    union of all batches would produce (pinned in tests) — no
    estimate-quality decay across batches, unlike summary sketches that
    prune. A stateful-UDF formulation was rejected for the same reason as
    DriftMonitor's: one global key would funnel the stream through one
    task, and per-item keys make the table unreadable as a whole.

    Exactly-once: replayed ``batch_id``s (recovery re-runs the last
    uncommitted batch) are skipped idempotently so no batch double-counts.
    ``estimate(items)`` answers point queries driver-side from the
    accumulated table using the batch operator's own keyed-siphash
    bucketing (build and probe can never disagree); the overcount-only
    contract est >= true holds at every point in the stream's life."""

    def __init__(
        self,
        item: str,
        width: int = 2048,
        depth: int = 4,
        weight_col: str | None = None,
    ) -> None:
        import numpy as np

        if width < 1 or depth < 1:
            raise ValueError(f"width/depth must be >= 1, got {width}/{depth}")
        self.item = item
        self.width = width
        self.depth = depth
        self.weight_col = weight_col
        self.table = np.zeros((depth, width), dtype="int64")
        self.n_batches = 0
        self._seen: set[int] = set()

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        import numpy as np

        if batch_id in self._seen:  # recovery replay — idempotent skip
            return
        self._seen.add(batch_id)
        from ..operators.sketches import count_min_table

        # O(depth) rows of width longs — bounded by the sketch parameters,
        # never by the batch (same driver-size discipline as DriftMonitor's
        # classes-sized collect)
        for r in count_min_table(
            batch_df, self.item, self.width, self.depth, self.weight_col
        ).collect():
            self.table[r["d"]] += np.asarray(r["counts"], dtype="int64")
        self.n_batches += 1

    def estimate(self, items: Iterable[str]) -> dict[str, int]:
        """Driver-side point queries against the accumulated table. ``None``
        probes are rejected: the ingest side drops NULLs, so stringifying
        one to ``'None'`` would return an arbitrary bucket's overcount
        (ADVICE r10 — same contract as ``cms_estimates``)."""
        from ..operators.sketches import _cms_buckets

        raw = list(items)
        if any(i is None for i in raw):
            raise ValueError(
                "StreamingCountMin.estimate: None probe — the build side "
                "drops NULLs, so a NULL has no counter to read"
            )
        items = [str(i) for i in raw]
        if not items:
            return {}
        out = {}
        for i, it in enumerate(items):
            out[it] = int(
                min(
                    self.table[d][_cms_buckets([it], d, self.width)[0]]
                    for d in range(self.depth)
                )
            )
        return out


class StreamingWeightedReservoir:
    """Streaming weighted sampling WITHOUT replacement — the streaming twin
    of ``operators.sampling.weighted_sample_exact``, wired as a
    ``foreachBatch`` handle: after any number of micro-batches, ``sample()``
    is EXACTLY the top-``k`` Efraimidis-Spirakis keys over everything the
    stream has carried (P(selection) proportional to weight, without
    replacement), in O(k) driver memory.

    Why this merges exactly: the ES key ln(u)/w of a row depends only on
    the row itself (u = the repo's deterministic 60-bit md5 uniform), so
    "top-k over a union" = "top-k over per-batch top-k's" — each
    micro-batch computes its OWN top-k DISTRIBUTED (the batch operator's
    ranking, one stratum="all" window over the batch) and only k rows
    reach the driver, where a running top-k of (key, id, payload) tuples
    is kept. The accumulated sample is therefore BIT-IDENTICAL to running
    the batch operator over the concatenation of all batches (pinned in
    tests) — the reservoir never decays, unlike a pruning sketch.

    Exactly-once: replayed ``batch_id``s are skipped; re-delivered rows in
    a NEW batch id are also harmless if ids repeat (same id + weight →
    same key → the top-k dedups on id). Rows with weight <= 0 are
    excluded, as in the batch operator."""

    def __init__(self, id_col: str, weight_col: str, k: int = 64) -> None:
        if k < 1:
            raise ValueError(f"k must be >= 1, got {k}")
        self.id_col = id_col
        self.weight_col = weight_col
        self.k = k
        self._best: dict = {}  # id -> (key, row-dict)
        self.n_batches = 0
        self._seen: set[int] = set()

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from ..operators.sampling import weighted_sample_exact

        if batch_id in self._seen:  # recovery replay — idempotent skip
            return
        self._seen.add(batch_id)
        # distributed per-batch top-k (one constant-stratum window over the
        # batch); only <= k rows reach the driver, where _key recomputes the
        # SAME md5-uniform ES key (int(md5[:15],16)/2^60 == _order_hash by
        # construction) for the running top-k merge
        topk = weighted_sample_exact(
            batch_df.withColumn("__all", F.lit(1)),
            "__all", self.id_col, self.weight_col, self.k,
        ).drop("__all", "rk")
        for row in topk.collect():
            self._ingest(row.asDict())
        self.n_batches += 1

    def _key(self, d: dict) -> float:
        import hashlib
        import math

        h = int(
            hashlib.md5(str(d[self.id_col]).encode()).hexdigest()[:15], 16
        )
        u = h / float(1 << 60)
        return math.log(u) / float(d[self.weight_col])

    def _ingest(self, d: dict) -> None:
        self._best[d[self.id_col]] = (self._key(d), d)
        if len(self._best) > self.k:
            worst = min(self._best, key=lambda i: self._best[i][0])
            del self._best[worst]

    def sample(self) -> list[dict]:
        """The current sample, best-first (highest ES key)."""
        return [
            d
            for _, d in sorted(
                self._best.values(), key=lambda t: (-t[0], t[1][self.id_col])
            )
        ]


class StreamingTwap:
    """Streaming time-weighted average — the ``q_twap`` batch query's
    ``foreachBatch`` twin, EXACT-merge across micro-batches: after any
    number of batches, per-key ``(n_events, wsum, dsum)`` equal the batch
    query's BIGINT sums over the concatenated stream (pinned in
    tests/test_streaming.py), because the only cross-batch term — the
    hold of each key's LAST event until the next batch's first — is a
    bridge duration computable from O(keys) driver scalars.

    Contract: batches must arrive in non-decreasing event time per key
    (the incremental-ingest posture; a violation would silently corrupt
    the weighted sums, so it RAISES instead). Within a batch any order is
    fine — the distributed window sorts. Driver state: O(keys) scalar
    tuples; per batch ONE distributed window + agg reduces the batch to
    O(keys) rows before the collect. Replay-idempotent by batch_id.
    """

    def __init__(
        self,
        key: str = "event_type",
        ts: str = "ts",
        value: str = "value",
        tiebreak: str = "event_id",
    ) -> None:
        self.key, self.ts, self.value, self.tiebreak = key, ts, value, tiebreak
        # key -> [n_events, wsum, dsum, last_sec, last_cents]
        self.state: dict[str, list[int]] = {}
        self._seen: set[int] = set()

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        if batch_id in self._seen:  # recovery replay — idempotent skip
            return
        self._seen.add(batch_id)
        sec = F.expr(
            f"unix_micros(cast({self.ts} as timestamp)) div 1000000"
        )
        cents = F.round(F.col(self.value) * 100).cast("bigint")
        rows = batch_df.select(
            F.col(self.key).alias("k"),
            F.col(self.tiebreak).alias("tb"),
            cents.alias("cents"),
            sec.alias("sec"),
        )
        w = Window.partitionBy("k").orderBy("sec", "tb")
        summary = (
            rows.withColumn("dur", F.lead("sec").over(w) - F.col("sec"))
            .groupBy("k")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("cents") * F.col("dur")).alias("wsum"),
                F.sum("dur").alias("dsum"),
                F.min_by(
                    F.struct("sec", "cents"), F.struct("sec", "tb")
                ).alias("first"),
                F.max_by(
                    F.struct("sec", "cents"), F.struct("sec", "tb")
                ).alias("last"),
            )
            .collect()  # bounded: O(keys) rows — the DriftMonitor posture
        )
        for r in summary:
            k = r["k"]
            n = int(r["n"])
            wsum = int(r["wsum"] or 0)
            dsum = int(r["dsum"] or 0)
            first_sec, last = r["first"]["sec"], r["last"]
            if k in self.state:
                st = self.state[k]
                bridge = first_sec - st[3]
                if bridge < 0:
                    raise ValueError(
                        f"StreamingTwap: batch {batch_id} key {k!r} starts "
                        f"{-bridge}s BEFORE the previous batch's last event "
                        "— out-of-order batches corrupt the weighted sums"
                    )
                st[0] += n
                st[1] += st[4] * bridge + wsum
                st[2] += bridge + dsum
                st[3], st[4] = last["sec"], int(last["cents"])
            else:
                self.state[k] = [n, wsum, dsum, last["sec"], int(last["cents"])]

    def result(self) -> dict[str, dict]:
        """Per-key exact sums + the ratio (one float division, like the
        batch query)."""
        out = {}
        for k, (n, wsum, dsum, _ls, _lc) in sorted(self.state.items()):
            out[k] = {
                "n_events": n,
                "wsum": wsum,
                "dsum": dsum,
                "twap": round(wsum / (100.0 * dsum), 6) if dsum else None,
            }
        return out


def _tdiv(a: int, b: int) -> int:
    """Integer division truncating toward zero — Spark SQL ``div`` (and
    DuckDB ``//`` on this path) semantics; python ``//`` floors, which
    differs on negative sums and would break bit-equality to the batch
    query's centroids."""
    q = abs(a) // b
    return q if a >= 0 else -q


class StreamingEmbeddingDrift:
    """Streaming EMBEDDING drift monitor — the vector member of the
    streaming drift family (``DriftMonitor``: categorical PSI;
    ``NumericDriftMonitor``: binned KS; this: centroid cosine), the
    foreachBatch twin of ``queries.vectorops.q_embedding_drift``: a
    reference centroid is frozen from a snapshot corpus at construction,
    and every micro-batch's centroid is scored against it — the live
    alarm that newly ingested embeddings come from a shifted
    distribution (new encoder version, new domain mix) and the ANN
    centroids/index need retraining.

    EXACT-merge architecture (the StreamingTwap discipline): each batch
    contributes milli-quantized per-dimension BIGINT sums + a count —
    computed DISTRIBUTED (one aggregate, map-side combined), with only
    the O(dim) sum vector collected. Running sums merge across batches
    by integer addition, so after any batch split the running centroid
    is BIT-IDENTICAL to a single-batch run over the union
    (replay-idempotent via batch_id, equality-to-batch pytest-pinned).
    Driver state: dim+1 ints for the running stream + dim+1 frozen
    reference ints — O(dim), never rows.

    Per batch, ``results`` records (batch_id, n_batch, batch_cosine,
    running_cosine) — the batch's own centroid vs the reference, and the
    stream-so-far centroid vs the reference (both the q_embedding_drift
    fixed-order float, 5 dp; None while the side has no rows)."""

    def __init__(self, snapshot: DataFrame, vec_col: str = "embedding") -> None:
        self.vec_col = vec_col
        self.results: list[tuple] = []
        self._seen: set[int] = set()
        self._sums: list[int] = []
        self._n = 0
        ref_sums, ref_n = self._batch_sums(snapshot)
        if ref_n == 0:
            raise ValueError("snapshot corpus is empty — no reference centroid")
        self._ref = [_tdiv(s, ref_n) for s in ref_sums]

    def _batch_sums(self, df: DataFrame) -> tuple[list[int], int]:
        q = F.expr(
            f"transform({self.vec_col},"
            " x -> cast(round(cast(x as double) * 1000) as bigint))"
        )
        agg = df.where(F.col(self.vec_col).isNotNull()).select(
            F.posexplode(q).alias("p", "qv")
        )
        rows = agg.groupBy("p").agg(
            F.sum("qv").cast("bigint").alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        ).collect()
        if not rows:
            return [], 0
        sums = [0] * len(rows)
        for r in rows:
            sums[r["p"]] = int(r["s"])
        return sums, int(rows[0]["n"])

    @staticmethod
    def _cosine(a: list[int], b: list[int]) -> float | None:
        dot = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a)
        nb = sum(y * y for y in b)
        if na == 0 or nb == 0:
            return None
        return round(dot / (na * nb) ** 0.5, 5)

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self._seen:  # recovery replay — idempotent skip
            return
        sums, n = self._batch_sums(batch_df)
        if n:
            if not self._sums:
                self._sums = list(sums)
            else:
                self._sums = [a + b for a, b in zip(self._sums, sums)]
            self._n += n
        batch_cos = (
            self._cosine([_tdiv(s, n) for s in sums], self._ref) if n else None
        )
        run_cos = (
            self._cosine([_tdiv(s, self._n) for s in self._sums], self._ref)
            if self._n
            else None
        )
        self.results.append((batch_id, n, batch_cos, run_cos))
        self._seen.add(batch_id)  # state mutation complete


class StreamingCusum:
    """Streaming CUSUM changepoint monitor — the foreachBatch twin of
    ``queries.timeseries.q_changepoint_cusum``, completing the streaming
    monitor family's time axis (DriftMonitor: categorical mix;
    NumericDriftMonitor: value distribution; StreamingEmbeddingDrift:
    vector centroid; THIS: WHEN did the level shift): as daily cells
    accumulate, every batch re-reads the most-likely changepoint day per
    event type from the stream-so-far.

    EXACT-merge architecture (the family discipline): each batch
    contributes exact BIGINT cents per (type, epoch-day) cell — computed
    DISTRIBUTED (one map-side-combined groupBy; only O(types × days)
    cell rows are collected) — and cells merge by integer addition, so
    after any batch split the merged grid is BIT-IDENTICAL to one batch
    over the union and the readout therefore EQUALS the batch query
    over the concatenated stream (pytest-pinned). The argmax walk runs
    driver-side in pure integers (n·P_d − d·T, the batch query's
    denominator-cleared trick); the only float is the final dollar
    division. Driver state: the (type, day) → cents dict — bounded by
    calendar × types (the drift-monitor state-bound model), never rows.

    Replay-idempotent via batch_id; an empty batch appends the unchanged
    readout. ``results[i]`` is the post-batch-i readout: a sorted list
    of (event_type, n_days, cp_epoch_day, cusum_dollars)."""

    def __init__(self) -> None:
        self.results: list[list[tuple]] = []
        self._seen: set[int] = set()
        self._cells: dict[tuple[str, int], int] = {}

    def current(self) -> list[tuple]:
        by_type: dict[str, dict[int, int]] = {}
        for (et, di), c in self._cells.items():
            by_type.setdefault(et, {})[di] = c
        out = []
        for et in sorted(by_type):
            days = sorted(by_type[et])
            n, t = len(days), sum(by_type[et].values())
            p = 0
            best_abs, best_day = -1, None
            for idx, d in enumerate(days, start=1):
                p += by_type[et][d]
                a = abs(n * p - idx * t)
                if a > best_abs:
                    best_abs, best_day = a, d
            out.append((et, n, best_day, round(best_abs / (n * 100), 4)))
        return out

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in self._seen:  # recovery replay — idempotent skip
            return
        rows = (
            batch_df.groupBy(
                "event_type",
                F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("di"),
            )
            .agg(
                F.sum(F.round(F.col("value") * 100).cast("bigint"))
                .cast("bigint")
                .alias("c")
            )
            .collect()
        )
        for r in rows:
            key = (r["event_type"], int(r["di"]))
            self._cells[key] = self._cells.get(key, 0) + int(r["c"])
        self.results.append(self.current())
        self._seen.add(batch_id)  # state mutation complete
