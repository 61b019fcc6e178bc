"""LSH banding + hot-band handling + candidate pair generation.

Four detectors share ONE PACKED 64-bit band key — the band table is just
``(cid, bkey)``  (cid = xxhash64(clip_id) int64):

    bkey = det_id(2 bits, 62..63) | band_id(5 bits, 57..61)
         | band_hash low 57 bits

- ``exact`` (det_id 0) — xxhash64 of the normalized text (JVM, no UDF);
- ``sim``   (det_id 1) — Manku-style SimHash tables: C(6,3)=20 keys,
               each packing 3 of 6 blocks (~33 bits; JVM shifts;
               pigeonhole covers hamming <= 3 with ~2^17x fewer
               accidental collisions than naive 16-bit quarter blocks);
- ``mh``    (det_id 2) — 32 MinHash band hashes (fused UDF; band_id 0..31);
- ``gram``  (det_id 3) — content-sampled 16-char gram ids.

Why packed (VERDICT r2 #4): the band path is the engine's biggest
shuffle, and its row was (clip_id, det string, band_id int, band_hash
long) — ~24 bytes of key columns plus comparator work per string key.
One long narrows the shuffle row by ~a third and makes every keyed op
an 8-byte comparison. Truncating band_hash to its LOW 57 bits (all
sources are fully-mixed 64-bit hashes except sim keys, which live in
the low ~38 bits — low-bit truncation preserves them exactly) can only
ADD cross-hash collisions within a (det, band_id) at P ~ 2^-57 — a
spurious CANDIDATE that verify then rejects; recall is unaffected.

Scale design (the part that must survive 10^12 rows):

- Pair generation is an equi self-join on bkey —
  sort-merge under AQE with skew-join splitting enabled.
- A single pathological band key still yields O(n^2) pairs no matter how
  AQE splits partitions, so band GROUPS are sized first with window
  count/min aggregates over the bkey partitioning (one sorted pass, no
  join); groups over ``band_group_cap`` are diverted: the ``exact``
  detector always emits linear STAR edges (hub = min clip_id —
  identical text is transitively duplicate, so no pairwise loss), and
  hot sim/mh/gram groups emit star edges too (approximation, counts
  logged to _metrics — no silent truncation).
- Pair dedupe also counts per-detector band hits (mh_hits/gram_hits) and
  flags star edges — verify uses these as free LSH-evidence gates so the
  Python tier only sees pairs that can plausibly pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simhash_spark.functions.signatures import (
    mh_gram_bkeys_exploded,
    minhash_bands_udf,
    simhash_table_key_cols,
    substring_grams_udf,
)
from simhash_spark.util import defer_metric, track_persisted


#: detector names in det_id order (bkey bits 62..63); the order IS the
#: pair-dedupe priority: exact > sim > mh > gram.
DETS = ["exact", "sim", "mh", "gram"]
_HASH57 = (1 << 57) - 1


def _pack_bkey(det_id: int, band_id, band_hash) -> "F.Column":
    """(det_id, band_id, band_hash) -> one packed long key (module doc).
    All shifts happen JVM-side so det_id 2/3 wrap into the sign bit
    naturally (two's complement)."""
    key = F.shiftleft(F.lit(det_id).cast("long"), 62)
    band_id = F.lit(band_id) if isinstance(band_id, int) else band_id
    return key.bitwiseOR(F.shiftleft(band_id.cast("long"), 57)).bitwiseOR(
        band_hash.bitwiseAND(F.lit(_HASH57))
    )


def det_id_col(bkey) -> "F.Column":
    bkey = F.col(bkey) if isinstance(bkey, str) else bkey
    return F.shiftrightunsigned(bkey, 62).cast("int")


def det_name_col(bkey) -> "F.Column":
    return F.element_at(F.array(*[F.lit(d) for d in DETS]), det_id_col(bkey) + 1)


def build_bands(
    normalized: DataFrame,
    signatures: DataFrame,
    detectors: tuple = ("simhash", "minhash", "substring"),
    id_col: str = "cid",
) -> DataFrame:
    """normalized(clip_id|cid, norm_text) + signatures(.., simhash)
    -> bands(id, bkey) — ONE packed long key per band row.

    ``id_col`` names the row-id column the band table carries: 'cid'
    (default — the int64 xxhash64(clip_id) interior key; derived in
    place when the input only has clip_id) or 'clip_id' (the string
    path: config.ID_KEY's collision remediation, and the incremental/
    streaming dedup whose state tables are string-keyed)."""
    if id_col == "cid" and "cid" not in normalized.columns:
        normalized = normalized.withColumn("cid", F.xxhash64("clip_id"))
    if id_col == "cid" and "cid" not in signatures.columns:
        signatures = signatures.withColumn("cid", F.xxhash64("clip_id"))
    parts: list[DataFrame] = []

    # exact detector — always on; pure JVM hash of the normalized text.
    parts.append(
        normalized.select(
            id_col,
            _pack_bkey(0, 0, F.xxhash64("norm_text")).alias("bkey"),
        )
    )

    if "simhash" in detectors:
        keys = simhash_table_key_cols("simhash")
        # table index is packed INSIDE each key (~38 low bits) -> band_id
        # stays 0 and one flat column carries all SIM_TABLES tables.
        sim = signatures.select(
            id_col,
            F.explode(F.array(*[_pack_bkey(1, 0, k) for k in keys])).alias("bkey"),
        )
        parts.append(sim)

    if "minhash" in detectors and "substring" in detectors:
        # FUSED kernel (VERDICT r3 #3): one Arrow crossing emits
        # PRE-PACKED bkeys for both detectors; the kernel shares a single
        # flatten/prefix pass and the packing layout is pytest-pinned
        # against _pack_bkey. mapInArrow emits PRE-EXPLODED (id, bkey)
        # rows straight from the kernel's flat output — no pandas
        # Series-of-lists, no Arrow LargeList, no JVM explode (VERDICT
        # r4 #5; interleaved A/B at 2M/T8 against the ArrayType UDF +
        # explode shape, BENCH/ab-bands-kernel-t8-n2000000.json: bands
        # commit 31.5 -> 28.4 s, -10%, pipeline -1.6%).
        parts.append(mh_gram_bkeys_exploded(normalized, id_col=id_col))
    elif "minhash" in detectors:
        mh = normalized.select(
            id_col,
            F.posexplode(minhash_bands_udf("norm_text")).alias("band_id", "band_hash"),
        ).select(id_col, _pack_bkey(2, F.col("band_id"), F.col("band_hash")).alias("bkey"))
        parts.append(mh)
    elif "substring" in detectors:
        gr = normalized.select(
            id_col, F.explode(substring_grams_udf("norm_text")).alias("band_hash")
        ).select(id_col, _pack_bkey(3, 0, F.col("band_hash")).alias("bkey"))
        parts.append(gr)

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_KEYS = ["bkey"]


def candidate_pairs(
    bands: DataFrame,
    band_group_cap: int = 2000,
    partitions: int | None = None,
    max_pairs_per_group: int | None = None,
    metrics_sink=None,
    gate: bool = True,
    gram_hits_min: int = 2,
) -> DataFrame:
    """bands -> candidate_pairs(a, b, det) with a < b, deduplicated.

    ``partitions`` sets the EXPLICIT hash-partitioning on the band keys
    (north_rule: explicit partition counts): the group-sizing window and
    the self-join both reuse the one Exchange.
    ``max_pairs_per_group`` caps the pairs a single band group may emit:
    groups whose n*(n-1)/2 exceeds it are diverted to linear star edges
    (same mechanism as ``band_group_cap``, expressed in pairs instead of
    rows); diverted groups/pairs are logged to ``metrics_sink`` — no
    silent truncation.

    ``gate=True`` (default) drops, AT THE SOURCE, deduped pairs that can
    never verify: det mh/gram, unstarred, below BOTH evidence gates
    (mh_hits < 2 and gram_hits < ``gram_hits_min``). Such a pair fails
    every verify tier by construction — the hamming tier is closed to it
    by the sim-table pigeonhole (operators/verify.py module doc), and
    the jaccard/substring tiers are exactly the gates. At 2M rows this
    is 65M of 77M deduped pairs (gram pairs with a single shared sampled
    gram — overwhelmingly boilerplate coincidences): dropping them
    shrinks the stage write and every verify-side scan ~6x. The drop
    count is logged to ``metrics_sink``. verify_pairs re-applies the
    same gates, so a sig-less caller that gates differently (pass
    ``gate=False``) gets identical final semantics.

    Each band row learns its group's size and hub from count(*)/min(id)
    OVER (PARTITION BY bkey): ONE sorted pass over the pre-partitioned
    band table, no join and no second sort. Hot groups buffer in
    WindowExec's external sorter (spills) like an SMJ sort buffer would.
    Interleaved fresh-JVM A/B at 2M rows / sp=128 against a groupBy +
    join-back sizing (BENCH/cp-stage-n2000000-winab-sp128.json): 237/212
    s vs 714/363 s at 8 cores. Cold groups then expand pairwise through
    a sort-merge self-join on bkey, which held against a collect_set +
    double-explode expansion (BENCH/pipeline-ab-pairgen-t32-n2000000.json,
    BENCH/cp-stage-n2000000.json).

    The hot-band star-diversion accounting (lsh_hot_band_groups /
    lsh_hot_band_rows_starred — the no-silent-truncation contract) rides
    the caller's materialization pass for free, as exact integer counts
    of an Observation on the star branch; see the inline comment.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Observation, Window

    spark = bands.sparkSession
    n_part = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    # row-id column: 'cid' (int64 interior key, the default bands layout)
    # or 'clip_id' (string bands) — whatever build_bands emitted.
    rid = [c for c in bands.columns if c != "bkey"][0]
    # EXPLICIT co-partitioning on the band keys: every downstream keyed op
    # (sizing window, pairwise self-join) sees HashPartitioning(_KEYS,
    # n_part) and reuses this single shuffle.
    bands = bands.repartition(n_part, *_KEYS)

    # grp_n/hub as window aggregates over the existing bkey hash-
    # partitioning: ClusteredDistribution(bkey) is already satisfied, so
    # the plan is Sort(bkey) + WindowExec. Groups of size 1 produce no
    # pairs — dropped in place. PERSIST: the cold and star branches both
    # consume it.
    w = Window.partitionBy(*_KEYS)
    annotated = (
        bands.select(
            *_KEYS,
            rid,
            F.count(F.lit(1)).over(w).alias("grp_n"),
            F.min(rid).over(w).alias("hub"),
        )
        .filter(F.col("grp_n") >= 2)
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )

    # a group is diverted to star edges if its ROW count exceeds
    # band_group_cap or its implied PAIR count n*(n-1)/2 exceeds
    # max_pairs_per_group (both knobs guard the same O(n^2) blow-up at
    # different granularity).
    over_cap = F.col("grp_n") > band_group_cap
    if max_pairs_per_group is not None:
        over_cap = over_cap | (
            F.col("grp_n") * (F.col("grp_n") - 1) / 2 > max_pairs_per_group
        )
    is_star = over_cap | (det_id_col("bkey") == 0)

    # cold path: full pairwise within group (group size <= cap bounds the
    # worst group at cap^2/2 pairs). det travels as the 2-bit id packed
    # in bkey — no extra column.
    cold_bands = annotated.filter(~is_star).select(*_KEYS, rid)
    a = cold_bands.alias("a")
    b = cold_bands.alias("b")
    pairs_cold = (
        a.join(b, _KEYS, "inner")
        .where(F.col(f"a.{rid}") < F.col(f"b.{rid}"))
        .select(
            F.col(f"a.{rid}").alias("a"),
            F.col(f"b.{rid}").alias("b"),
            det_id_col("bkey").alias("det_id"),
            F.lit(0).alias("starred"),
        )
    )

    # star path (exact groups of any size + over-cap sim/mh/gram groups):
    # linear edges to the group's min id. For 'exact' this is lossless
    # (identical text is transitively dup); for over-cap groups it is the
    # logged approximation that avoids O(n^2).
    star_rows = annotated.filter(is_star)
    hot_obs = None
    if metrics_sink is not None:
        # hot-band accounting as exact integer counts over the star rows
        # BEFORE the hub filter: a non-exact star row belongs to an
        # over-cap group, and each such group has exactly one row whose
        # id is its hub. Observed on the single-consumer star branch
        # (above the annotated cache, so cache-population races can't
        # double-fire) and flushed by whoever materializes the pairs
        # (CheckpointStore.write / util.flush_deferred_metrics).
        is_hot_row = det_id_col("bkey") != 0
        hot_obs = Observation()
        star_rows = star_rows.observe(
            hot_obs,
            F.count(F.when(is_hot_row, 1)).alias("hot_rows"),
            F.count(F.when(is_hot_row & (F.col(rid) == F.col("hub")), 1)).alias(
                "hot_groups"
            ),
        )
    pairs_hot = star_rows.where(F.col(rid) != F.col("hub")).select(
        F.col("hub").alias("a"),
        F.col(rid).alias("b"),
        det_id_col("bkey").alias("det_id"),
        F.lit(1).alias("starred"),
    )

    pairs = pairs_cold.unionByName(pairs_hot)
    # one pair may surface from many bands/detectors — dedupe keeping
    # exact > sim > mh > gram priority (det_id order IS the priority),
    # and COUNT per-detector band hits: verify uses mh_hits as a free
    # jaccard pre-filter (a true j>=0.8 pair hits >=2 of the 32 minhash
    # bands w.p. 1-3e-5) and gram_hits to route substring checks.
    pairs = (
        pairs.groupBy("a", "b")
        .agg(
            F.min("det_id").alias("det_pr"),
            F.sum(F.when(F.col("det_id") == 2, 1).otherwise(0)).alias("mh_hits"),
            F.sum(F.when(F.col("det_id") == 3, 1).otherwise(0)).alias("gram_hits"),
            F.max("starred").alias("starred"),
        )
        .select(
            "a",
            "b",
            F.element_at(
                F.array(*[F.lit(d) for d in DETS]), F.col("det_pr") + 1
            ).alias("det"),
            "mh_hits",
            "gram_hits",
            "starred",
        )
    )
    if gate:
        # source-side verifiability gate (docstring): keep exact/sim
        # always (tier 0/1 candidates), and mh/gram pairs only with
        # enough band-hit evidence for a tier-2 check.
        can_verify = (
            F.col("det").isin("exact", "sim")
            | (F.col("mh_hits") >= 2)
            | (F.col("gram_hits") >= gram_hits_min)
            | ((F.col("starred") == 1) & ((F.col("mh_hits") >= 1) | (F.col("gram_hits") >= 1)))
        )
        if metrics_sink is not None:
            # drop accounting rides the caller's materialization pass for
            # free (Observation — no extra job, no cache): the count is
            # DEFERRED until an action runs; CheckpointStore.write (or
            # any direct consumer via util.flush_deferred_metrics)
            # flushes it after the stage is materialized.
            obs = Observation()
            pairs = pairs.observe(
                obs, F.sum(F.when(~can_verify, 1).otherwise(0)).alias("dropped")
            )
            pairs = defer_metric(
                pairs.filter(can_verify),
                obs,
                "dropped",
                lambda v: metrics_sink(
                    "ungated_pairs_dropped", int(v or 0), gram_hits_min=gram_hits_min
                ),
            )
        else:
            pairs = pairs.filter(can_verify)
    if hot_obs is not None:

        def _emit_hot(_v, obs=hot_obs):
            try:
                m = obs.get
                groups, rows = int(m["hot_groups"]), int(m["hot_rows"])
            except Exception:
                # observation pruned => the star branch was runtime-empty,
                # and an empty star branch means no over-cap group exists
                # (every group that reaches it has >= 2 rows): 0 is the
                # exact answer.
                groups = rows = 0
            metrics_sink("lsh_hot_band_groups", groups, cap=band_group_cap)
            metrics_sink(
                "lsh_hot_band_rows_starred",
                rows,
                band_group_cap=band_group_cap,
                max_pairs_per_group=max_pairs_per_group,
            )

        pairs = defer_metric(pairs, hot_obs, "hot_rows", _emit_hot)
    # `annotated` stays cached until the caller materializes `pairs`
    # (CheckpointStore.write releases it — no executor-storage leak in a
    # long-lived driver).
    return track_persisted(pairs, [annotated])
