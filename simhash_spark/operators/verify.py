"""Candidate-pair verification: Hamming / Jaccard / substring.

Tiered so the expensive (Python/Arrow) checks only see pairs the cheap
(JVM) checks couldn't settle — and, crucially, EXPLICIT DataFrame splits:
a pandas UDF inside ``when()`` still evaluates for every row (Spark
computes ArrowEvalPython projections unconditionally), so each UDF gets
its own pre-filtered DataFrame instead.

  tier 0 — det=='exact': identical normalized text, pre-verified
           (hamming reported as 0: identical text => identical sig).
  tier 1 — Hamming on the 64-bit simhashes, applied to det=='sim' pairs
           ONLY. This is the Manku pigeonhole theorem used as a ROUTING
           guarantee, not just a recall guarantee: any pair with
           hamming <= HAM_D collides in at least one of the C(6,3) sim
           tables, so it SURFACES with det=='sim' (detector priority
           exact > sim > mh > gram) unless every colliding sim group was
           over the hot cap — and hot sim groups emit star edges to
           their hub, so those members are already connected
           transitively in the cluster graph. A pair carrying det mh or
           gram therefore provably cannot newly pass the hamming rule,
           and the signature join shrinks from O(all pairs) to O(sim
           pairs) — at 2M rows that is 152k of 77M pairs, turning the
           verify stage's two biggest shuffles into a sliver.
  tier 2 — texts are joined ONLY for pairs that pass the LSH-evidence
           gates (band-hit counts collected for free during pair dedupe):
             jaccard   : mh_hits >= 2 (true j>=0.8 misses w.p. ~3e-5),
                         or any mh hit on a starred hot-band edge —
                         Arrow-batched shingle kernel (Python);
             substring : gram_hits >= gram_hits_min (default 2 — a
                         64-char span samples ~6 grams; P(<2) ~ 1.1%),
                         or any gram hit on a starred edge — pure JVM
                         contains() (no Arrow crossing; this branch
                         carries the bulk of the survivors).

VERIFY rule (config.py, SURVEY.md §2.2): hamming <= 3 OR jaccard >= 0.8
OR verbatim containment of the (>= 64-char) shorter side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simhash_spark import config as C
from simhash_spark.functions.signatures import hamming_col, jaccard_udf
from simhash_spark.util import track_persisted

_OUT_COLS = ["a", "b", "det", "method", "hamming", "jaccard"]


def verify_pairs(
    pairs: DataFrame,
    profile: DataFrame,
    gram_hits_min: int = 2,
    metrics_sink=None,
) -> DataFrame:
    """pairs(a, b, det, mh_hits, gram_hits, starred) ->
    verified_pairs(a, b, det, method, hamming, jaccard).

    ``profile``: (clip_id, norm_text, simhash).

    Tier routing is the module-docstring pigeonhole argument: signatures
    are joined onto det=='sim' pairs ONLY (every other det provably
    cannot newly satisfy the hamming rule); exact pairs pass with
    hamming 0 and mh/gram pairs go straight to the evidence-gated
    tier 2 with hamming reported as NULL.

    Pair ids may be cid int64s (the pipeline interior's
    xxhash64(clip_id) key — every join below then runs on 8-byte keys,
    and the OUTPUT maps a/b back to clip_id strings, restoring the
    a < b string ordering) or clip_id strings (legacy path, used by the
    string-keyed incremental dedup) — dispatched on the column type, so
    the committed verified_pairs schema is identical either way."""
    cid_keyed = dict(pairs.dtypes)["a"] == "bigint"
    if cid_keyed and "cid" not in profile.columns:
        profile = profile.withColumn("cid", F.xxhash64("clip_id"))
    key = "cid" if cid_keyed else "clip_id"
    # tier 0: identical normalized text — pre-verified, sig-free.
    tier0 = pairs.filter(F.col("det") == "exact").select(
        "a",
        "b",
        "det",
        F.lit("exact").alias("method"),
        F.lit(0).cast("int").alias("hamming"),
        F.lit(None).cast("double").alias("jaccard"),
    )

    # tier 1: sigs joined onto the det=='sim' sliver only. PERSIST: the
    # hamming pass and the tier-2 fallthrough both read it (it is tiny —
    # O(sim pairs), not O(pairs)).
    sigs = profile.select(key, "simhash")
    simj = (
        pairs.filter(F.col("det") == "sim")
        .join(
            sigs.select(F.col(key).alias("a"), F.col("simhash").alias("sig_a")),
            "a",
        )
        .join(
            sigs.select(F.col(key).alias("b"), F.col("simhash").alias("sig_b")),
            "b",
        )
        .withColumn("hamming", hamming_col("sig_a", "sig_b").cast("int"))
        .persist()
    )
    tier1 = simj.filter(F.col("hamming") <= C.VERIFY_HAMMING_MAX).select(
        "a",
        "b",
        "det",
        F.lit("hamming").alias("method"),
        "hamming",
        F.lit(None).cast("double").alias("jaccard"),
    )

    needs_jac = (F.col("mh_hits") >= 2) | (
        (F.col("starred") == 1) & (F.col("mh_hits") >= 1)
    )
    needs_sub = (F.col("gram_hits") >= gram_hits_min) | (
        (F.col("starred") == 1) & (F.col("gram_hits") >= 1)
    )
    attrs = ["a", "b", "det", "mh_hits", "gram_hits", "starred", "hamming"]
    rest = (
        simj.filter(F.col("hamming") > C.VERIFY_HAMMING_MAX)
        .select(*attrs)
        .unionByName(
            pairs.filter(F.col("det").isin("mh", "gram")).withColumn(
                "hamming", F.lit(None).cast("int")
            ).select(*attrs)
        )
        .filter(needs_jac | needs_sub)
    )
    if C.VERIFY_TEXT_FILTER == "semi":
        # The semi path reads `rest` three times (id set + both
        # branches); unlike the old 7 GB joined-texts cache this frame
        # is ids+evidence counts only (~40 B/row), so persisting it is
        # cheap and saves two recomputations of the sim-fallthrough
        # union + gate.
        rest = rest.persist()

    # texts joined ONLY for the gated survivors, PER BRANCH and AFTER the
    # branch filter. The previous shape joined texts onto the combined
    # survivor set and persisted it — at 2M rows that cache was 11M pairs
    # x two ~300-char texts (~7 GB), which 32 concurrent tasks evicted
    # and recomputed (verify T32 measured SLOWER than T8). The substring
    # branch (the bulk — gram evidence is the most common survivor) needs
    # no cache at all now that its check is JVM-side.
    texts = profile.select(key, "norm_text")
    if C.VERIFY_TEXT_FILTER == "semi":
        # Prefilter texts to the ids the gated survivors actually touch:
        # the survivor id set is a small fraction of the corpus (dup
        # candidates cluster), so the CORPUS-sized texts table never
        # enters the four pair joins below — only the candidates' texts
        # do. The id set is pair-symmetric and computed from `rest`
        # itself, so every joined pair's ids are present by construction
        # (output identical to the 'full' shape; pytest-pinned). The
        # distinct shuffles 8-byte ids (O(survivor pairs)), the filtered
        # table is persisted because both branches join it twice, and at
        # runtime AQE sees its real (post-filter) size when picking the
        # join strategy — at 10^12 rows this is the difference between
        # shuffling the whole corpus' text and the candidates' sliver.
        surv_ids = (
            rest.select(F.col("a").alias(key))
            .unionByName(rest.select(F.col("b").alias(key)))
            .distinct()
        )
        texts = texts.join(surv_ids, key, "left_semi").persist()

    def with_texts(df: DataFrame) -> DataFrame:
        return df.join(
            texts.select(F.col(key).alias("a"), F.col("norm_text").alias("norm_a")),
            "a",
        ).join(
            texts.select(F.col(key).alias("b"), F.col("norm_text").alias("norm_b")),
            "b",
        )

    # jaccard tier: Python (Arrow) shingle kernel, but only the mh-gated
    # sliver reaches it; persisted because sub_in re-reads the failures.
    jac = (
        with_texts(rest.filter(needs_jac))
        .withColumn("jaccard", jaccard_udf("norm_a", "norm_b"))
        .persist()
    )
    jac_pass = jac.filter(F.col("jaccard") >= C.VERIFY_JACCARD_MIN).select(
        "a", "b", "det", F.lit("jaccard").alias("method"), "hamming", "jaccard"
    )

    # substring tier: pure JVM — containment of the (>= SUBSTR_MIN_LEN)
    # shorter side via codegen'd contains(); the old Arrow UDF shipped
    # ~GBs of candidate texts to Python for a string find that whole-
    # stage codegen does in place (this was the verify stage's real
    # scale-killer, not the join count).
    sub_in = with_texts(rest.filter(needs_sub & ~needs_jac)).withColumn(
        "jaccard", F.lit(None).cast("double")
    ).unionByName(
        jac.filter((F.col("jaccard") < C.VERIFY_JACCARD_MIN) & needs_sub),
        allowMissingColumns=False,
    )
    contained = F.when(
        F.length("norm_a") <= F.length("norm_b"),
        (F.length("norm_a") >= C.SUBSTR_MIN_LEN)
        & F.col("norm_b").contains(F.col("norm_a")),
    ).otherwise(
        (F.length("norm_b") >= C.SUBSTR_MIN_LEN)
        & F.col("norm_a").contains(F.col("norm_b"))
    )
    sub_pass = sub_in.filter(contained).select(
        "a", "b", "det", F.lit("substring").alias("method"), "hamming", "jaccard"
    )

    out = tier0.unionByName(tier1).unionByName(jac_pass).unionByName(sub_pass)
    if cid_keyed:
        # map the interior cid keys back to clip_id strings at the ONE
        # output boundary (two 8-byte-keyed joins over the verified
        # sliver, not the candidate set) and restore the user-facing
        # a < b STRING ordering the string-keyed engine committed
        # (det/method/hamming/jaccard are all pair-symmetric).
        #
        # COLLISION GUARD: a cid carried by two clip_ids (odds ~n^2/2^65
        # — reachable only by adversarial input or at ~10^9+ corpora)
        # would fan this join out into verified pairs between texts that
        # were never compared. The map table is therefore built by a
        # groupBy that FAILS the job on any multi-clip cid instead of
        # silently corrupting output. Cost: one exchange of (8B cid,
        # clip_id) — ~0.5% of the pipeline's shuffle bytes at 8M rows —
        # and the count/min aggregate is map-side-combined. Remediation
        # is named in the error: SPARK_GRAFT_ID_KEY=clip_id falls back to
        # the collision-free string-keyed interior.
        m = (
            profile.select("cid", "clip_id")
            .groupBy("cid")
            .agg(
                F.min("clip_id").alias("clip_id"),
                F.count(F.lit(1)).alias("_n"),
            )
            .withColumn(
                "clip_id",
                F.when(F.col("_n") == 1, F.col("clip_id")).otherwise(
                    F.raise_error(
                        F.concat_ws(
                            "",
                            F.lit("id-key collision: cid "),
                            F.col("cid").cast("string"),
                            F.lit(" is carried by "),
                            F.col("_n").cast("string"),
                            F.lit(
                                " clip_ids; rerun with "
                                "SPARK_GRAFT_ID_KEY=clip_id "
                                "(collision-free string-keyed interior)"
                            ),
                        )
                    ).cast("string")
                ),
            )
            .drop("_n")
        )
        out = (
            out.join(m.select(F.col("cid").alias("a"), F.col("clip_id").alias("a_str")), "a")
            .join(m.select(F.col("cid").alias("b"), F.col("clip_id").alias("b_str")), "b")
            .select(
                F.least("a_str", "b_str").alias("a"),
                F.greatest("a_str", "b_str").alias("b"),
                "det",
                "method",
                "hamming",
                "jaccard",
            )
        )
    # COALESCE the output to the session's partition sizing (r6, guide
    # §6 "coalesce on write"): the four-branch union (+ map-back joins)
    # leaves up to ~8x shuffle-partitions output partitions when AQE
    # broadcasts the small joins (no post-join exchange to coalesce), so
    # the committed stage wrote that many near-empty files and paid the
    # same count of write-task commits. coalesce is a NARROW dep — no
    # shuffle, branch partitions are stacked into n_part write tasks —
    # and at cluster scale the post-SMJ branches are already at n_part,
    # making this a no-op there.
    n_part = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    out = out.coalesce(n_part)
    # simj/jac (and the semi-filtered texts) stay cached until the
    # caller materializes the result (CheckpointStore.write releases
    # them).
    cached = [simj, jac]
    if C.VERIFY_TEXT_FILTER == "semi":
        cached.extend([rest, texts])
    return track_persisted(out, cached)
