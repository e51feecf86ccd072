"""Meta-blocking: token lane, block purging, edge weighting, CNP pruning.

Mirrors the reference's progressive-key pruning idea (comparisons survive
only while evidence accumulates across grouping stages,
``src/pipeline/metadata.rs:43-49``) on the blocking-graph formulation of
Papadakis et al. (TKDE 2014).
"""

from pyspark.sql import functions as F

from translink.canonicalize import canonicalize
from translink.config import LinkConfig
from translink.evaluate import blocking_quality
from translink.metablocking import (
    cnp_prune,
    meta_block_pairs,
    purge_blocks,
    token_block_keys,
)

CFG = LinkConfig()


def _keys(tiny, cfg=CFG):
    canonical = canonicalize(tiny["transcripts"], cfg)
    return purge_blocks(token_block_keys(canonical, cfg), cfg)


def test_purge_bounds_every_block(spark, tiny):
    sizes = _keys(tiny).groupBy("key").count()
    lo, hi = sizes.agg(F.min("count"), F.max("count")).first()
    assert hi <= CFG.meta_purge_size
    # singletons SURVIVE purging: they pair nothing but count in the JS
    # denominator (purge_blocks docstring)
    assert lo == 1


def test_keys_are_distinct_per_record(spark, tiny):
    keys = _keys(tiny)
    assert keys.count() == keys.distinct().count()


def test_weights_are_sane_and_pairs_unique(spark, tiny):
    w = meta_block_pairs(_keys(tiny), CFG)
    rows = w.count()
    assert rows == w.select("conv_id_a", "conv_id_b").distinct().count()
    bad = w.filter(
        (F.col("conv_id_a") >= F.col("conv_id_b"))
        | (F.col("common_keys") < 1)
        | (F.col("weight") <= 0)
        | (F.col("weight") > 1.0)
    ).count()
    assert bad == 0


def test_exact_duplicates_weight_one(spark, tiny):
    """An exact duplicate shares every key with its original -> its key-set
    Jaccard weight is exactly 1.0 (no purged key can break the tie: purging
    removes the key from BOTH records)."""
    w = meta_block_pairs(_keys(tiny), CFG)
    dup = w.filter(
        F.col("conv_id_b") == F.concat(F.col("conv_id_a"), F.lit("_dup1"))
    )
    n = dup.count()
    assert n >= 3
    assert dup.filter(F.col("weight") != 1.0).count() == 0


def test_cnp_prune_is_subset_and_linear(spark, tiny):
    keys = _keys(tiny)
    w = meta_block_pairs(keys, CFG)
    pruned = cnp_prune(w, CFG)
    assert pruned.count() <= w.count()
    # union-rule retention: total surviving edges <= records * k
    n_records = keys.select("conv_id").distinct().count()
    assert pruned.count() <= n_records * CFG.meta_top_k
    # subset: every pruned edge exists in the weighted graph with its weight
    joined = pruned.join(
        w.withColumnRenamed("weight", "w0"),
        ["conv_id_a", "conv_id_b"],
    )
    assert joined.count() == pruned.count()
    assert joined.filter(F.col("weight") != F.col("w0")).count() == 0


def test_true_pairs_survive_pruning(spark, tiny):
    """Recall contract of the prune. Pairwise completeness is the right
    metric for the FULL graph; after CNP it is deliberately not — inside a
    50-clique of exact duplicates each node retains only k edges, so most
    of the C(50,2) pairwise edges die while the clique stays connected.
    What the downstream pipeline needs from the pruned graph is exactly
    that connectivity: transitive clustering re-derives every true pair
    from a spanning subgraph. So: full graph >= 0.95 pairwise, and the
    pruned graph must keep every true pair the full graph covered in ONE
    connected component."""
    from translink.clustering import connected_components

    keys = _keys(tiny)
    w = meta_block_pairs(keys, CFG)
    truth = tiny["labeled_pairs"].filter("is_match")
    q_full = blocking_quality(w, truth)
    assert q_full["pairs_completeness"] >= 0.95

    pruned = cnp_prune(w, CFG)
    cc = connected_components(
        pruned.select(F.col("conv_id_a").alias("src"),
                      F.col("conv_id_b").alias("dst")),
        CFG,
    )
    joined = (
        truth.select("conv_id_a", "conv_id_b")
        .join(cc.select(F.col("conv_id").alias("conv_id_a"),
                        F.col("cluster_id").alias("cl_a")), "conv_id_a")
        .join(cc.select(F.col("conv_id").alias("conv_id_b"),
                        F.col("cluster_id").alias("cl_b")), "conv_id_b")
    )
    n_true = truth.count()
    n_same = joined.filter(F.col("cl_a") == F.col("cl_b")).count()
    # connectivity recall of the pruned graph >= the full graph's pairwise
    # completeness: pruning cost volume, not recall
    assert n_same / n_true >= q_full["pairs_completeness"]


def test_shingle_lane_recall_and_purge(spark, tiny):
    """The shingle-key lane (the scale path: every bare token goes
    stop-word on a large corpus, shingles stay selective) must keep the
    same planted recall through purge + weighting, under the same purge
    bound."""
    from translink.metablocking import shingle_block_keys

    canonical = canonicalize(tiny["transcripts"], CFG)
    keys = purge_blocks(shingle_block_keys(canonical, CFG), CFG)
    hi = keys.groupBy("key").count().agg(F.max("count")).first()[0]
    assert hi <= CFG.meta_purge_size
    w = meta_block_pairs(keys, CFG)
    truth = tiny["labeled_pairs"].filter("is_match")
    q = blocking_quality(w, truth)
    assert q["pairs_completeness"] >= 0.95
    # exact duplicates still weigh 1.0 in the shingle lane
    dup = w.filter(
        F.col("conv_id_b") == F.concat(F.col("conv_id_a"), F.lit("_dup1"))
    )
    assert dup.count() >= 3
    assert dup.filter(F.col("weight") != 1.0).count() == 0


def test_meta_lane_composes_with_scorer_and_clusterer(spark, tiny):
    """The meta-blocking lane is a drop-in candidate generator: its pruned
    pairs ride the standard scorer (payloads joined in AFTER pruning —
    heavy text never touches the blocking graph) and transitive clustering,
    and the planted truth is recovered at full pairwise F1."""
    from translink.clustering import connected_components
    from translink.evaluate import pairwise_prf
    from translink.metablocking import shingle_block_keys
    from translink.scoring import score_pairs

    canonical = canonicalize(tiny["transcripts"], CFG)
    keys = purge_blocks(shingle_block_keys(canonical, CFG), CFG)
    pruned = cnp_prune(meta_block_pairs(keys, CFG), CFG)
    payload = canonical.select("conv_id", "canon_text")
    pairs = (
        pruned.join(
            payload.select(F.col("conv_id").alias("conv_id_a"),
                           F.col("canon_text").alias("canon_text_a")),
            "conv_id_a",
        )
        .join(
            payload.select(F.col("conv_id").alias("conv_id_b"),
                           F.col("canon_text").alias("canon_text_b")),
            "conv_id_b",
        )
    )
    edges = (
        score_pairs(pairs, CFG, include_jaro_winkler=False, cascade=True)
        .filter(F.col("score") >= CFG.threshold)
        .select(F.col("conv_id_a").alias("src"), F.col("conv_id_b").alias("dst"))
    )
    cc = connected_components(edges, CFG)
    clusters = canonical.select("conv_id").join(cc, "conv_id", "left").select(
        "conv_id", F.coalesce("cluster_id", "conv_id").alias("cluster_id")
    )
    prf = pairwise_prf(tiny["labeled_pairs"], clusters)
    assert prf["f1"] >= 0.99


def test_wnp_prune_is_subset_and_keeps_exact_dups(spark, tiny):
    """WNP (neighborhood-average threshold) keeps a strict subset, and an
    exact duplicate always survives: its common-block count is its
    endpoint's maximum, and a maximum is never below the average."""
    from translink.metablocking import wnp_prune

    w = meta_block_pairs(_keys(tiny), CFG)
    pruned = wnp_prune(w)
    assert 0 < pruned.count() <= w.count()
    joined = pruned.join(
        w.withColumnRenamed("weight", "w0"), ["conv_id_a", "conv_id_b"]
    )
    assert joined.count() == pruned.count()
    dup_all = w.filter(
        F.col("conv_id_b") == F.concat(F.col("conv_id_a"), F.lit("_dup1"))
    ).count()
    dup_kept = pruned.filter(
        F.col("conv_id_b") == F.concat(F.col("conv_id_a"), F.lit("_dup1"))
    ).count()
    assert dup_all >= 3
    assert dup_kept == dup_all


def test_link_meta_pairs_bipartite_recall_and_bounds(spark, tiny):
    """Cross-corpus meta-blocking over the fixture split (base records =
    side A, planted _dup/_ndup re-deliveries = side B): only A×B pairs
    come out, the combined purge bound holds, and every planted
    (x, x_dup1) twin survives CNP pruning with weight 1.0."""
    from translink.metablocking import (
        cnp_prune_bipartite, link_meta_pairs, shingle_block_keys,
    )

    canonical = canonicalize(tiny["transcripts"], CFG)
    is_b = F.col("conv_id").rlike("_(dup|ndup)[0-9]+$")
    ka = shingle_block_keys(canonical.filter(~is_b), CFG)
    kb = shingle_block_keys(canonical.filter(is_b), CFG)
    w = link_meta_pairs(ka, kb, CFG)
    # bipartite by construction: every _a id is a base record, every _b a twin
    assert w.filter(F.col("conv_id_a").rlike("_(dup|ndup)[0-9]+$")).count() == 0
    assert w.filter(~F.col("conv_id_b").rlike("_(dup|ndup)[0-9]+$")).count() == 0
    pruned = cnp_prune_bipartite(w, CFG)
    assert 0 < pruned.count() <= w.count()
    dup = pruned.filter(
        F.col("conv_id_b") == F.concat(F.col("conv_id_a"), F.lit("_dup1"))
    )
    n_twins = canonical.filter(F.col("conv_id").endswith("_dup1")).count()
    assert n_twins >= 3
    assert dup.count() == n_twins
    assert dup.filter(F.col("weight") != 1.0).count() == 0


def test_pipeline_meta_lane_keeps_f1(spark, tiny):
    """use_meta_lane=True unions the CNP-pruned shingle graph as a third
    candidate lane of run_pipeline; the fixture truth must still resolve
    at full pairwise F1 (the lane can only ADD candidates — the scorer
    threshold, not the blocker, decides edges)."""
    from translink.evaluate import pairwise_prf
    from translink.pipeline import run_pipeline

    cfg = LinkConfig(use_meta_lane=True)
    res = run_pipeline(spark, tiny["transcripts"], cfg)
    prf = pairwise_prf(tiny["labeled_pairs"], res["clusters"])
    assert prf["f1"] >= 0.99


def test_budgeted_meta_lane_builds_key_table_once(spark, tiny, monkeypatch):
    """With pair_budget and use_meta_lane both set, the pipeline builds the
    purged shingle key table once and feeds it to the budget forecast and
    the lane alike; the meta forecast still equals the lane's actual join
    volume (sum of common_keys over its weighted pairs)."""
    import translink.blocking as blocking
    import translink.metablocking as metablocking
    from translink.evaluate import pairwise_prf
    from translink.pipeline import run_pipeline

    seen = {"key_builds": 0}
    real_keys = metablocking.shingle_block_keys
    real_pairs = metablocking.meta_block_pairs
    real_enforce = blocking.enforce_pair_budget

    def counting_keys(*args, **kwargs):
        seen["key_builds"] += 1
        return real_keys(*args, **kwargs)

    def measured_pairs(keys, cfg):
        w = real_pairs(keys, cfg)
        seen["actual"] = w.agg(F.sum("common_keys")).first()[0]
        return w

    def recorded_enforce(forecasts, budget):
        rows = real_enforce(forecasts, budget)
        seen["forecast"] = {r["lane"]: r["join_pairs"] for r in rows}
        return rows

    monkeypatch.setattr(metablocking, "shingle_block_keys", counting_keys)
    monkeypatch.setattr(metablocking, "meta_block_pairs", measured_pairs)
    monkeypatch.setattr(blocking, "enforce_pair_budget", recorded_enforce)

    cfg = LinkConfig(use_meta_lane=True, pair_budget=10**9)
    res = run_pipeline(spark, tiny["transcripts"], cfg)
    assert seen["key_builds"] == 1
    assert seen["forecast"]["meta"] == seen["actual"] > 0
    assert pairwise_prf(tiny["labeled_pairs"], res["clusters"])["f1"] >= 0.99


def test_link_meta_mutual_best_matches_truth(spark, tiny):
    """Schema-free linkage end to end: bipartite meta weights resolved by
    greedy mutual-best must assign (almost) every planted twin to its own
    base record — co-occurrence evidence alone, no similarity scorer."""
    from translink.linkage import mutual_best_matches
    from translink.metablocking import link_meta_pairs, shingle_block_keys

    canonical = canonicalize(tiny["transcripts"], CFG)
    is_b = F.col("conv_id").rlike("_(dup|ndup)[0-9]+$")
    ka = shingle_block_keys(canonical.filter(~is_b), CFG)
    kb = shingle_block_keys(canonical.filter(is_b), CFG)
    w = link_meta_pairs(ka, kb, CFG).withColumnRenamed("weight", "score")
    m = mutual_best_matches(w, CFG)
    n = m.count()
    assert n >= 3
    correct = m.filter(
        F.col("conv_id_b").startswith(F.col("conv_id_a"))
    ).count()
    # every resolved match points at its own base record (the fixture's
    # B ids are <base>_dupK/<base>_ndupK)
    assert correct == n


def test_volume_forecast_matches_actual_join(spark, tiny):
    """The forecast's defining property: sum-of-C(size,2) from block sizes
    equals the ACTUAL row counts of the joins it predicts — the attribute
    lane's candidate_pairs output, and the meta lane's pre-dedup join
    volume (= sum of common_keys over the weighted pairs)."""
    from translink.blocking import (
        volume_forecast, with_block_key, with_salt,
    )
    from translink.candidates import candidate_pairs
    from translink.metablocking import shingle_block_keys
    from translink.signatures import with_exact_digest

    cfg = LinkConfig(max_block_size=16, salt_mode="rank")
    signed = with_exact_digest(canonicalize(tiny["transcripts"], cfg))
    blocked = with_salt(with_block_key(signed, cfg), ["block_key"], cfg)
    f_attr = volume_forecast(
        blocked.select("conv_id", "block_key", "salt"),
        ["block_key", "salt"], "attribute",
    ).first()
    actual_attr = candidate_pairs(blocked, cfg, payload_cols=[]).count()
    assert f_attr["join_pairs"] == actual_attr
    assert f_attr["n_rows"] == signed.count()

    keys = purge_blocks(shingle_block_keys(signed, cfg), cfg)
    f_meta = volume_forecast(keys, ["key"], "meta_shingle").first()
    w = meta_block_pairs(keys, cfg)
    actual_meta = w.agg(F.sum("common_keys")).first()[0]
    assert f_meta["join_pairs"] == actual_meta
    assert f_meta["max_block_size"] <= cfg.meta_purge_size


def test_filter_blocks_keeps_most_selective_keys(spark):
    """Block filtering on a constructed mixed-selectivity corpus: a long
    record keeps exactly its r smallest-block keys, identical twins keep
    identical selections (weight stays 1.0), and a hot key shared by all
    records is the first thing shed."""
    from translink.metablocking import filter_blocks, meta_block_pairs

    cfg = LinkConfig(meta_keys_per_record=4)
    rows = []
    # 10 background records all share hot keys h0..h5; each also has two
    # private keys p{i}a/p{i}b (block size 1)
    for i in range(10):
        for k in [f"h{j}" for j in range(6)] + [f"p{i}a", f"p{i}b"]:
            rows.append((f"r{i:02d}", k))
    # a twin pair shares six keys: two rare (block 2) + four hot
    for cid in ("x1", "x2"):
        for k in ["h0", "h1", "h2", "h3", "rare1", "rare2"]:
            rows.append((cid, k))
    keys = spark.createDataFrame(rows, "conv_id string, key string")
    filt = filter_blocks(keys, cfg)
    counts = {r["conv_id"]: r["count"]
              for r in filt.groupBy("conv_id").count().collect()}
    assert all(c == 4 for c in counts.values())
    x1 = {r["key"] for r in filt.filter("conv_id = 'x1'").collect()}
    x2 = {r["key"] for r in filt.filter("conv_id = 'x2'").collect()}
    # identical records select identically; rare keys in, hot keys mostly out
    assert x1 == x2
    assert {"rare1", "rare2"} <= x1
    w = meta_block_pairs(filt, cfg)
    tw = w.filter((F.col("conv_id_a") == "x1") & (F.col("conv_id_b") == "x2"))
    assert tw.count() == 1
    assert tw.first()["weight"] == 1.0


def test_hot_stopword_block_is_purged(spark, tiny):
    """A token present in more than meta_purge_size records must not
    survive purging (stop-word guard — the lane's skew bound)."""
    cfg = LinkConfig(meta_purge_size=8)
    canonical = canonicalize(tiny["transcripts"], cfg)
    raw = token_block_keys(canonical, cfg)
    hot = raw.groupBy("key").count().filter(F.col("count") > 8).count()
    assert hot >= 1  # the fixture vocabulary guarantees hot tokens
    kept_sizes = purge_blocks(raw, cfg).groupBy("key").count()
    assert kept_sizes.agg(F.max("count")).first()[0] <= 8
