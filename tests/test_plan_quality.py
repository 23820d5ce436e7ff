"""Plan-quality pins (scale discipline as tests): predicate pushdown
reaches the Parquet reader, column pruning holds, join strategies are
the intended ones, and no query regresses into a SortAggregate or a
shuffle storm. These encode the ".explain and iterate" loop so a
future edit that silently de-optimizes a plan fails CI, not the
100 TB run."""

from __future__ import annotations

import pytest

from document_query_system_spark.plans.inspect import audit, plan_report
from document_query_system_spark.registry import all_specs

from conftest import SF_DIR


def _plan(spark, name):
    return plan_report(all_specs()[name].fn(spark, SF_DIR))


def test_scan_pushdown_reaches_parquet(spark):
    rep = _plan(spark, "q_scan_lineitem")
    assert len(rep.scans) == 1
    scan = rep.scans[0]
    assert "l_shipdate" in scan["pushed"] and "l_discount" in scan["pushed"]
    # Projection pruning: 4 projected + 2 predicate columns, not all 16.
    assert len(scan["columns"].split(",")) <= 6


def test_broadcast_join_is_broadcast(spark):
    rep = _plan(spark, "q_join_broadcast")
    assert rep.n_broadcasts >= 1
    assert "BroadcastHashJoin" in rep.raw


def test_sortmerge_hint_respected(spark):
    assert "SortMergeJoin" in _plan(spark, "q_join_sortmerge").raw


def test_cross_score_broadcasts_questions_not_documents(spark):
    rep = _plan(spark, "q_cross_score")
    assert rep.n_bnlj == 1  # intended: tiny question side broadcast
    # The documents side must NOT be broadcast: exactly one broadcast
    # exchange (the questions), and the scan feeds the streamed side.
    assert rep.n_broadcasts == 1


def _broadcast_local_scans(rep) -> list[str]:
    """Output lists of the LocalTableScans that feed a BroadcastExchange
    directly in the plan tree."""
    import re

    tree = rep.raw.split("\n\n")[0].splitlines()
    outs = []
    for ln, nxt in zip(tree, tree[1:]):
        m = re.search(r"LocalTableScan \((\d+)\)", nxt)
        if "BroadcastExchange (" in ln and m:
            detail = re.search(
                rf"\n\({m.group(1)}\) LocalTableScan\nOutput \[\d+\]: \[([^\]]*)\]",
                rep.raw,
            )
            outs.append(detail.group(1))
    return outs


@pytest.mark.parametrize(
    "build",
    ["run_query_vector", "run_query_keyword", "published_ivf_topk", "q_cross_score"],
)
def test_question_side_is_a_local_relation(spark, build):
    """Driver-side question rows enter the serving plans as an
    Arrow-built LocalRelation (sources.tables.local_rows): the
    broadcast build side is a LocalTableScan carrying question_id, and
    no Python-RDD scan (createDataFrame over a Python list →
    applySchemaToPythonRDD) is left — that scan put a Python-worker
    stage first on the critical path of every request."""
    from document_query_system_spark import api
    from document_query_system_spark.operators.pipeline import published_ivf_topk

    df = {
        "run_query_vector": lambda: api.run_query(spark, SF_DIR, method="vector"),
        "run_query_keyword": lambda: api.run_query(spark, SF_DIR, method="keyword"),
        "published_ivf_topk": lambda: published_ivf_topk(spark, SF_DIR),
        "q_cross_score": lambda: all_specs()["q_cross_score"].fn(spark, SF_DIR),
    }[build]()
    rep = plan_report(df)
    assert "applySchemaToPythonRDD" not in rep.raw, rep.raw
    assert "Scan ExistingRDD" not in rep.raw, rep.raw
    outs = _broadcast_local_scans(rep)
    assert any("question_id#" in o for o in outs), rep.raw


def test_topk_sort_limit_avoids_full_sort(spark):
    rep = _plan(spark, "q_sort_limit")
    assert "TakeOrderedAndProject" in rep.raw


def test_pagerank_final_topk_is_take_ordered(spark):
    """The final top-20 must plan as TakeOrderedAndProject (a 20-row
    heap per partition, heaps merged on the driver) — the previous
    global row_number() window sorted ALL nodes in one partition
    (r7 verdict #4). Also pins the fixed-budget lazy-rounds shape:
    exactly one ExistingRDD source (the checkpointed edge list) feeds
    every round — no per-round materialization barrier remains.
    (Repeated-subtree exchanges dedup at RUNTIME under AQE, so
    ReusedExchange is not visible in the static plan.)"""
    import re

    rep = _plan(spark, "q_pagerank")
    assert "TakeOrderedAndProject" in rep.raw
    outs = re.findall(
        r"\(\d+\) Scan ExistingRDD\nOutput \[\d+\]: \[([a-z_]+)#", rep.raw
    )
    assert outs and set(outs) == {"src"}, set(outs)


def test_vocab_coverage_rank_window_is_bounded(spark):
    """The coverage curve consumes only ranks ≤ max(cut)=10k, so the
    plan must take the top-10k types via TakeOrderedAndProject
    (per-partition heaps, bounded merge) BEFORE the single-partition
    rank window — ranking the entire type inventory through one
    global sort is the r9 verdict #3 scale hole (billions of types at
    100 TB). The Window's input is the 10k-row GlobalLimit, never the
    raw aggregate."""
    rep = _plan(spark, "q_vocab_coverage")
    assert "TakeOrderedAndProject" in rep.raw, "top-cut must be a heap take"
    # Structural pin (r10 ADVICE): "a TakeOrderedAndProject exists
    # somewhere" would still pass if the rank Window re-ranked the
    # full aggregate while some other subtree planned a take. Walk
    # the tree section: the Window node's input chain must reach a
    # TakeOrderedAndProject through at most bookkeeping nodes
    # (Sort/Exchange/Project) — never a full-width aggregate or scan.
    tree = rep.raw.split("\n\n")[0].splitlines()
    win_at = [i for i, ln in enumerate(tree) if "Window (" in ln]
    assert win_at, "rank Window missing from the plan tree"
    for i in win_at:
        ok = False
        for ln in tree[i + 1 :]:
            if "TakeOrderedAndProject" in ln:
                ok = True
                break
            if not any(
                node in ln for node in ("Sort (", "Exchange (", "Project (")
            ):
                break  # hit a real operator first — unbounded input
        assert ok, "rank Window input is not the bounded top-cut take"


def test_bucketed_join_has_no_join_exchange(spark):
    """Both sides bucketed on the join key → the SortMergeJoin reads
    co-located buckets with NO shuffle before it; only the final
    groupBy (on a different key) exchanges."""
    rep = _plan(spark, "q_bucketed_join")
    assert "SortMergeJoin" in rep.raw
    assert rep.n_shuffles <= 1


def test_partition_pruning_reaches_listing(spark):
    """lang=de predicate on the lang-partitioned table must appear as
    a PartitionFilter (directory-level skip), not a data filter."""
    rep = _plan(spark, "q_partition_pruned_read")
    assert "PartitionFilters" in rep.raw
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", rep.raw)
    assert m and "lang" in m.group(1)


def test_bloom_prefilter_is_scan_local(spark):
    """The bloom bit tests must be a literal-array Filter on the
    orders subtree BELOW the exact semi-join (a sketch shipped via a
    1-row broadcast cross join gets hoisted into a BNLJ condition
    ABOVE the join and filters nothing — round-2 advisor finding).
    Probe plan: zero shuffles, zero BNLJ, exactly one broadcast (the
    exact verify side), and the shiftright bit test present as a
    Filter."""
    rep = _plan(spark, "q_bloom_prefilter_join")
    assert rep.n_broadcasts == 1  # exact semi-join build side only
    assert "BroadcastHashJoin" in rep.raw  # exact semi-join
    assert rep.n_bnlj == 0  # sketch must NOT ride a cross join
    assert rep.n_shuffles == 0  # big side stays in place
    # The bit test survives as a scan-adjacent filter on orders.
    import re

    filters = [
        blk for blk in re.split(r"\n\(\d+\) ", rep.raw)
        if blk.startswith("Filter") and "shiftright" in blk
    ]
    assert filters, "bloom bit-test filter missing from the probe side"


def test_cosine_dedup_salts_the_bucket_key(spark):
    """Embedding-cosine dedup must JOIN on (label, salt), not label
    alone: a skewed label bucket (one dominant language at 100 TB)
    otherwise degenerates toward all-pairs inside ONE partition — the
    salt splits each bucket's |bucket|² pair work across COSINE_SALT
    reducers. At fixture scale Catalyst (correctly) broadcasts one
    side, so pin the salt in the equi-join KEYS (which become the
    hashpartitioning keys when both sides are large and the join goes
    shuffle-side)."""
    import re

    rep = _plan(spark, "q_dedup_embedding_cosine")
    keyed = re.findall(r"(?:Left|Right) keys \[\d+\]: \[([^\]]*)\]", rep.raw)
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", rep.raw)
    assert any("label" in p and "salt" in p for p in keyed + parts), (
        "join no longer keyed on (label, salt): " + rep.raw[:800]
    )


def test_bm25_shuffle_shape(spark):
    """r8 shape: the query probes the STORED posting index
    (api.ensure_bm25_index) — the keyword twin of the vector-index
    rule. Pins: the question-term isin predicate is PUSHED into the
    postings Parquet scan (In(term, ...) in PushedFilters, so
    term-sorted row groups skip on min/max stats); no
    scan→tokenize→explode pipeline remains in the query plan; df
    comes from a groupBy, never a per-term count window (the r5
    regression: the golden terms cover most of the synthetic
    vocabulary, so a term window sorted nearly the whole posting
    table); shuffle budget 2 (the df groupBy + repartition(question),
    which the score groupBy and rank window both reuse); no
    SortAggregate."""
    import re

    rep = _plan(spark, "q_bm25_topk")
    assert rep.n_shuffles <= 2, rep.n_shuffles
    assert rep.n_sort_aggregates == 0
    windows = [
        blk for blk in re.split(r"\n\(\d+\) ", rep.raw)
        if blk.startswith("Window") and "term" in blk.split("\n")[1]
    ]
    assert windows == [], "df must come from a groupBy, not a term window"
    assert "explode" not in rep.raw, (
        "posting table must come from the stored index, not be re-derived"
    )
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", rep.raw)
    assert any("In(term" in p for p in pushed), pushed


# Queries whose SortAggregate is ENGINE-INTRINSIC, not a regression:
# grouping by a collated string key has no UnsafeRow binary-hash path
# in Spark 4 (collation-aware equality can't reuse the byte-wise hash
# map), so a collated GROUP BY always plans as SortAggregate —
# verified against both the min(string) and count-only agg forms.
_SORT_AGG_INTRINSIC = {"q_collation_group"}


def test_tfidf_probes_stored_index(spark):
    """Symmetric with the BM25 pin: the TF-IDF probe must read the
    stored weighted index with the question-term isin pushed into the
    Parquet scan, and never re-derive the weighted postings
    (tokenize→explode) inside the query plan."""
    import re

    rep = _plan(spark, "q_tfidf_topk")
    assert "explode" not in rep.raw
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", rep.raw)
    assert any("In(term" in p for p in pushed), pushed


def test_prf_second_probe_pushes_expanded_terms(spark):
    """q_prf_expansion's returned plan is the SECOND probe (pass 1 and
    the expansion mining run eagerly at build time — the bounded
    collect). Pins: the EXPANDED term set (originals + mined) is still
    a literal In(term, ...) pushed into the postings Parquet scan —
    the point of collecting the ≤|questions|·5 mined terms is exactly
    that the re-probe keeps the stored-index pushdown contract — and
    the plan never re-derives postings (no explode)."""
    import re

    rep = _plan(spark, "q_prf_expansion")
    assert "explode" not in rep.raw
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", rep.raw)
    assert any("In(term" in p for p in pushed), pushed


def test_graph_family_reads_stored_edges(spark):
    """The co-order graph queries must consume api.ensure_coorder_edges
    — no lineitem/orders scan (the edge derivation) may appear in any
    of their per-query plans; the build runs once per session."""
    for name in (
        "q_triangle_count",
        "q_communities_lp",
        "q_kcore",
        "q_recursive_bfs",
    ):
        rep = _plan(spark, name)
        assert "lineitem" not in rep.raw and "orders" not in rep.raw, name


def test_no_sort_aggregates_anywhere(spark):
    """Hash-aggregable buffers everywhere: SortAggregate means an agg
    fell out of codegen (this is how the max_by top-1 regression was
    caught). Documented engine-intrinsic exceptions above."""
    offenders = []
    for name, spec in sorted(all_specs().items()):
        if name.startswith("q_stream"):
            continue  # streaming plans only materialize when driven
        if name in _SORT_AGG_INTRINSIC:
            continue
        rep = plan_report(spec.fn(spark, SF_DIR))
        if rep.n_sort_aggregates:
            offenders.append(name)
    assert offenders == []


# Composed queries with a documented per-query shuffle budget; every
# entry must justify its count against the legs it composes.
_SHUFFLE_BUDGET_EXEMPT = {
    # 4 proven for the BM25 leg (q_bm25_topk's own pinned budget) +
    # 1 for the vector leg's rank window. The FUSION itself adds
    # ZERO: both legs leave the windows hash(question_id)-partitioned
    # and subset-key co-partitioning (requireAllClusterKeysForCoPartition
    # = false, session.py) lets the (question, doc) full-outer join
    # run without re-exchanging either side.
    "q_rrf_fusion": 5,
    # Composed eval harness: the MinHash-LSH candidate leg (sig map +
    # band self-join + distinct ≈ 3) + the exact blocked-Jaccard
    # truth leg (posting groupBy + pair groupBy ≈ 2) + the TP join
    # and three single-row count aggregates (≈ 4 tiny exchanges).
    # Both legs are individually pinned by their own queries; the
    # harness adds only row-count-sized movement.
    "q_dedup_tier_eval": 9,
    # Fixed-budget lazy rounds (r8): all 3 PageRank iterations live in
    # ONE plan (the former per-round eager checkpoints serialized the
    # rounds and cost 5.4 vs 3.4 s at sf0.1), so the static plan shows
    # every round's exchanges at once: 3 rounds × (rank⨯edges join +
    # contribution agg + nodes left-join) + the nodes/degree builds.
    # Identical repeated subtrees (nodes, degrees) dedup at RUNTIME
    # via AQE exchange reuse; all movement is edge/node-sized.
    "q_pagerank": 13,
    # Same fixed-budget lazy-rounds shape (r8): both LP rounds live in
    # one plan — per round an edge⨯label join + vote groupBy + argmax
    # window (3 exchanges) + the initial node-distinct; movement is
    # edge/label-sized and the bidirected edge list is the single
    # materialized RDD.
    "q_communities_lp": 7,
    # Composed eval harness (the q_dedup_tier_eval class): the exact
    # ground-truth pool (probe rank window) + the full LSH candidate
    # pipeline (bucket-join dedup agg + rank window + vector refetch)
    # + — since r11 — the IVF candidate pipeline (cell-pruned probe +
    # rank window ≈ 2) + five per-question count aggregates + the two
    # overlap joins and the report join chain. All three pools are
    # individually pinned by their own queries (q_golden_vector_
    # search's probe; q_mmr_ann_pool's and q_mmr_ivf_pool's bounded
    # pools); everything the harness ADDS moves ≤|questions|·pool
    # rows.
    "q_mmr_pool_recall": 17,
    # The q_mmr_pool_recall class at the SCALED geometry (r12): the
    # exact ground-truth pool's rank window + the cell-pruned scaled
    # IVF pool's rank window + three per-question count aggregates +
    # the two-report join chain. The pool legs are individually
    # pinned (the exact probe; test_mmr_ivf_scaled_pool_keeps_static_
    # partition_filters); everything the harness ADDS moves
    # ≤|questions|·pool rows.
    "q_ivf_recall_scaled": 8,
    # One k-core peel pass = two endpoint semi-joins of the (eagerly
    # checkpointed, strictly shrinking) edge list against the
    # survivor set + a degree groupBy + the degree rejoin — the
    # visible plan is only the FINAL pass (each round checkpoints),
    # but that single pass legitimately exchanges the small
    # edge/survivor tables ~10 times. All movement is subgraph-sized.
    "q_kcore": 10,
}


def test_shuffle_budget(spark):
    """No batch query needs more than 4 data-moving shuffles at this
    plan shape; more usually means a redundant exchange. Composed
    queries carry an explicit justified budget above."""
    over = []
    for name, spec in sorted(all_specs().items()):
        if name.startswith("q_stream"):
            continue
        rep = plan_report(spec.fn(spark, SF_DIR))
        if rep.n_shuffles > _SHUFFLE_BUDGET_EXEMPT.get(name, 4):
            over.append((name, rep.n_shuffles))
    assert over == []


def test_audit_is_clean(spark):
    warns = []
    for name, spec in sorted(all_specs().items()):
        if name.startswith("q_stream"):
            continue
        w = audit(
            spec.fn(spark, SF_DIR),
            name,
            shuffle_budget=_SHUFFLE_BUDGET_EXEMPT.get(name, 4),
        )
        if name in _SORT_AGG_INTRINSIC:
            w = [x for x in w if "SortAggregate" not in x]
        warns += w
    assert warns == []


def test_keyword_score_staging_survives_optimizer(spark):
    """lower(text) must never run inside the per-question-word filter
    lambda, where it re-lowercases the full text |words|× per
    (question, doc) pair (measured ~10× on q_answer_summary). The
    documents side reads the stored keyword table's lower-cased
    ``text_lc`` (api.ensure_keyword_table), so the optimized plan lowers
    no document text at all and the lambda above the join tests
    containment in the stored column."""
    df = all_specs()["q_cross_score"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "lower(text" not in plan, plan
    join_pos = plan.index("Join")
    # The stored column is scanned BELOW the join (later in the printed
    # tree = child) and read by the score above it.
    assert plan.rindex("text_lc") > join_pos, plan
    assert plan.index("text_lc") < join_pos, plan


def test_scd2_single_shuffle(spark):
    """q_scd2_intervals claims ONE data-moving shuffle: the lag
    window, the island cumsum, the run aggregate, and the lead window
    all cluster by user_id, so HashPartitioning(user_id) from the
    first window satisfies every downstream distribution (groupBy on
    a superset of the partitioning keys co-locates for free). A
    second exchange here means a stage stopped reusing the window's
    partitioning."""
    rep = _plan(spark, "q_scd2_intervals")
    assert rep.n_shuffles == 1, rep


def test_kmeans_assignment_is_shuffle_free(spark):
    """q_cluster_kmeans constant-folds the collected centroids into
    the plan, so the returned assignment+rollup moves ONE exchange
    (the K-group aggregate) — the property that makes assignment a
    pure map at 100 TB."""
    rep = _plan(spark, "q_cluster_kmeans")
    assert rep.n_shuffles <= 1, rep.n_shuffles


def test_triangle_wedge_plan_is_truncated(spark):
    """The reused edge/oriented-edge/triangle subtrees are
    checkpointed: without truncation this plan measured ~184
    exchanges; the executed tail is the corner rollup plus the
    clustering-coefficient join against the (checkpointed, |V|-sized,
    co-partitionable) degree table — two exchanges."""
    rep = _plan(spark, "q_triangle_count")
    assert rep.n_shuffles <= 2, rep.n_shuffles


def test_sketch_builds_are_bounded(spark):
    """CMS and portable-HLL sketch queries keep their post-checkpoint
    plans within the vocabulary/cell-sized exchanges they advertise."""
    assert _plan(spark, "q_heavy_hitters_cms").n_shuffles <= 2
    assert _plan(spark, "q_hll_portable").n_shuffles <= 3


def test_phrase_search_prunes_terms_before_joins(spark):
    """Both posting intersections happen on term-pruned inputs; the
    plan needs at most one exchange and no broadcast of the corpus
    side (the per-term posting lists are the broadcast candidates)."""
    rep = _plan(spark, "q_phrase_search")
    assert rep.n_shuffles <= 1, rep.n_shuffles


# Retrieval queries whose plans must NEVER embed the document corpus:
# they probe the STORED vector index (api.ensure_vector_index), so
# the only embed compute allowed is the literal question batch —
# which Catalyst constant-folds clean out of the plan. The r7 round
# shipped two queries (q_rrf_fusion, q_ndcg_eval) violating the rule
# that api.py documents; this pin makes the next violation fail at
# commit time instead of in a verdict (r7 verdict #6).
_RETRIEVAL_QUERIES = (
    "q_hybrid_rrf",
    "q_rrf_fusion",
    "q_ndcg_eval",
    "q_api_run_vector",
    "q_api_run_keyword",
    "q_bm25_topk",
    "q_tfidf_topk",
    "q_mmr_diversify",
    "q_mmr_ann_pool",
    "q_mmr_ivf_pool",
    "q_prf_expansion",
)
# Deliberately NOT pinned: q_golden_vector_search — it is the
# end-to-end embed-documents-then-search pipeline benchmark (the
# reference's one-shot src/main.py:84-127 run; BASELINE.md B1+B2
# analog), where the corpus embed IS the measured work.
# The deterministic embedder's char-fold hash is (acc*131 + ascii) %
# 1000000007 (functions/hashing.py) — `* 131)` survives into any
# optimized plan that hash-embeds a text column. Embedding the
# 10-row question batch is allowed (its source column renders as
# split(question_text#N)); embedding the corpus is the violation
# (split(text#N) — the documents table's column — in the SAME
# enclosing token_hashes expression as the fold constant). The
# association check scans a wide window on BOTH sides of each fold
# marker (an expression's printed span can put the split before or
# after the constant, and extra casts/aliases can pad it — a narrow
# one-sided window fails open; r8 review).
_EMBED_MARKER = "* 131)"
_CORPUS_SPLIT = "split(text#"
_EMBED_WINDOW = 6000


def test_mmr_ann_pool_probes_bucketed_index_not_full_scan(spark):
    """The ANN-served MMR pool (r9 verdict #5) must come from the
    STORED LSH-bucketed index probed by broadcast bucket keys — never
    a corpus embed or an exact full-index cross join. Pinned on the
    pool subplan (the per-round checkpoints truncate it out of the
    registered query's final plan): the only Parquet scan is the
    vector_index_lsh layout, the probe is a bucket-key equi-join
    (BroadcastHashJoin, zero BNLJ — the exact variant's cross join
    shape), and the corpus-embed fold marker is absent."""
    from document_query_system_spark.operators.pipeline import (
        mmr_ann_pool_pairs,
    )

    rep = plan_report(mmr_ann_pool_pairs(spark, SF_DIR))
    locs = [s.get("location", "") for s in rep.scans]
    # The pairs builder reads ONLY the bucketed layout (the vector
    # fetch for the greedy rounds lives in retrieval.pool_vectors,
    # and the recall report skips it) — never the documents table.
    assert locs and all("vector_index_lsh" in loc for loc in locs), locs
    assert "BroadcastHashJoin" in rep.raw
    assert rep.n_bnlj == 0  # exact variant's cross join must not appear
    assert _CORPUS_SPLIT not in rep.raw  # stored index, never re-embed
    # The literal probe keys must reach the partitioned layout as
    # STATIC PartitionFilters (directory-level pruning — r10 probed
    # that DPP is not inserted for this broadcast shape, so the
    # driver-side literal fold-in is what buys nprobe-style reads).
    import re

    pfs = [
        m
        for m in re.findall(r"PartitionFilters: \[([^\]]*)\]", rep.raw)
        if "bucket" in m
    ]
    assert pfs and any("INSET" in m or " IN " in m for m in pfs), pfs


def test_mmr_ivf_pool_probes_cell_layout_not_full_scan(spark):
    """The IVF-served MMR pool (r10 verdict #2) must come from the
    STORED cell-partitioned layout probed by broadcast (question,
    cell) keys — never a corpus embed or an exact full-index cross
    join — with the literal probe cells reaching the scan as STATIC
    PartitionFilters, exactly like the LSH variant's pin above."""
    from document_query_system_spark.operators.pipeline import (
        mmr_ivf_pool_pairs,
    )

    rep = plan_report(mmr_ivf_pool_pairs(spark, SF_DIR))
    locs = [s.get("location", "") for s in rep.scans]
    assert locs and all("vector_index_ivf" in loc for loc in locs), locs
    assert "BroadcastHashJoin" in rep.raw
    assert rep.n_bnlj == 0  # exact variant's cross join must not appear
    assert _CORPUS_SPLIT not in rep.raw  # stored index, never re-embed
    import re

    pfs = [
        m
        for m in re.findall(r"PartitionFilters: \[([^\]]*)\]", rep.raw)
        if "cell" in m
    ]
    assert pfs and any("INSET" in m or " IN " in m for m in pfs), pfs


def test_triplet_ann_pool_probes_cell_layout_not_full_scan(spark):
    """q_training_triplets_ann's mining pool must come from the
    STORED embeddings IVF layout with static PartitionFilters on the
    probed cells — never the full embeddings-table scoring scan the
    exact variant runs (r10 verdict #3: "plan pin showing no
    full-corpus scoring pass")."""
    from document_query_system_spark.functions.vector import (
        triplet_ann_pool,
    )

    rep = plan_report(triplet_ann_pool(spark, SF_DIR))
    locs = [s.get("location", "") for s in rep.scans]
    assert locs and all("emb_index_ivf" in loc for loc in locs), locs
    assert "BroadcastHashJoin" in rep.raw
    assert rep.n_bnlj == 0  # exact variant's cross join must not appear
    import re

    pfs = [
        m
        for m in re.findall(r"PartitionFilters: \[([^\]]*)\]", rep.raw)
        if "cell" in m
    ]
    assert pfs and any("INSET" in m or " IN " in m for m in pfs), pfs


def test_mmr_ivf_scaled_pool_keeps_static_partition_filters(spark):
    """The corpus-adaptive IVF layout (cells = ivf_cells_for(N) —
    r11 verdict #3) must serve through the SAME static-pruning plan
    as the fixed-16 layout: literal probe cells as PartitionFilters
    on the cells-tagged layout, no corpus embed, no cross join —
    changing the geometry knob must not change the plan shape."""
    from document_query_system_spark.operators.pipeline import (
        mmr_ivf_pool_pairs,
    )

    rep = plan_report(mmr_ivf_pool_pairs(spark, SF_DIR, scaled=True))
    locs = [s.get("location", "") for s in rep.scans]
    assert locs and all("vector_index_ivf_c" in loc for loc in locs), locs
    assert "BroadcastHashJoin" in rep.raw
    assert rep.n_bnlj == 0
    assert _CORPUS_SPLIT not in rep.raw
    import re

    pfs = [
        m
        for m in re.findall(r"PartitionFilters: \[([^\]]*)\]", rep.raw)
        if "cell" in m
    ]
    assert pfs and any("INSET" in m or " IN " in m for m in pfs), pfs


def test_triplet_join_pool_is_cell_equi_join_no_driver_fold(spark):
    """The distributed mining-pool path (r11 verdict #4) must keep
    every anchor in-plan: the only scans are the stored embeddings IVF
    layout (+ its K-row centroid file) and the anchor slice of the
    embeddings table WITH the anchor predicate pushed into the reader;
    the cell choice is the bounded broadcast-centroid cross join (the
    kmeans assign shape — at most ONE BNLJ whose broadcast side is K
    centroid rows); and the pool probe itself is a cell EQUI-join, so
    scoring never touches vectors outside the probed cells."""
    from document_query_system_spark.functions.vector import (
        triplet_join_pool,
    )

    rep = plan_report(triplet_join_pool(spark, SF_DIR))
    locs = [s.get("location", "") for s in rep.scans]
    assert locs and all(
        "emb_index_ivf" in loc or "embeddings" in loc for loc in locs
    ), locs
    anchors = [
        s for s in rep.scans if "emb_index_ivf" not in s.get("location", "")
    ]
    # The corpus-table read is the ANCHOR slice, not the corpus: the
    # vec_id predicate must reach the Parquet reader.
    assert anchors and all("vec_id" in s["pushed"] for s in anchors), anchors
    # At most two BNLJ: the K-row centroid broadcast (the kmeans
    # assign shape) plus its copy inside the DPP subquery below.
    assert rep.n_bnlj <= 2
    # The pool probe is an equi-join on the cell key (any hash
    # strategy Catalyst picks; broadcast at fixture scale).
    assert "qcell" in rep.raw
    assert (
        "BroadcastHashJoin" in rep.raw
        or "SortMergeJoin" in rep.raw
        or "ShuffledHashJoin" in rep.raw
    )
    # What the literal fold bought statically, this path gets at
    # runtime: DYNAMIC partition pruning on the layout's cell
    # directories (the probe side re-runs as a pruning subquery).
    assert "dynamicpruningexpression" in rep.raw
    assert _CORPUS_SPLIT not in rep.raw  # stored index, never re-embed


def test_triplet_join_pool_scaled_keeps_dpp_on_scaled_layout(spark):
    """q_training_triplets_join's pool (the scaled mining geometry,
    r12 verdict #3+#4) must keep the distributed path's plan shape on
    the CELLS-TAGGED scaled layout: cell equi-join with DYNAMIC
    partition pruning, anchor predicate pushed to the embeddings
    reader, no driver fold, no corpus re-embed — changing the trained
    geometry must not change the plan."""
    from document_query_system_spark.functions.vector import (
        triplet_join_pool,
    )

    rep = plan_report(triplet_join_pool(spark, SF_DIR, scaled=True))
    locs = [s.get("location", "") for s in rep.scans]
    assert locs and all(
        "emb_index_ivf_c" in loc or "embeddings" in loc for loc in locs
    ), locs
    anchors = [
        s for s in rep.scans if "emb_index_ivf_c" not in s.get("location", "")
    ]
    assert anchors and all("vec_id" in s["pushed"] for s in anchors), anchors
    assert rep.n_bnlj <= 2  # K-row centroid broadcast + its DPP copy
    assert "dynamicpruningexpression" in rep.raw
    assert _CORPUS_SPLIT not in rep.raw


def test_mmr_ivf_serving_probes_scaled_layout_statically(spark):
    """The promoted serving point (q_mmr_ivf_serving — scaled cells +
    curve-calibrated nprobe, r12 verdict #2) must serve through the
    SAME static-pruning plan as every other IVF probe: literal probe
    cells as PartitionFilters on the cells-tagged layout, no corpus
    embed, no cross join — the calibration changes only WHICH cell
    directories are listed, never the plan shape."""
    from document_query_system_spark.operators.ivf import IVF_NPROBE_SCALED
    from document_query_system_spark.operators.pipeline import (
        mmr_ivf_pool_pairs,
    )

    rep = plan_report(
        mmr_ivf_pool_pairs(
            spark, SF_DIR, scaled=True, nprobe=IVF_NPROBE_SCALED
        )
    )
    locs = [s.get("location", "") for s in rep.scans]
    assert locs and all("vector_index_ivf_c" in loc for loc in locs), locs
    assert "BroadcastHashJoin" in rep.raw
    assert rep.n_bnlj == 0
    assert _CORPUS_SPLIT not in rep.raw
    import re

    pfs = [
        m
        for m in re.findall(r"PartitionFilters: \[([^\]]*)\]", rep.raw)
        if "cell" in m
    ]
    assert pfs and any("INSET" in m or " IN " in m for m in pfs), pfs


def test_late_interaction_reads_only_pool_docs(spark):
    """The MaxSim re-ranker's corpus-table read must be gated by the
    pool keys: in the final plan (the first-pass probe sits behind the
    pool checkpoint) the ONLY Parquet scan is the documents table,
    joined via BroadcastHashJoin on the broadcast pool doc_ids before
    any tokenize/explode — and no cross join anywhere downstream (the
    sparse trigram scoring is pure equi-join + hash aggregate).
    q_late_interaction is deliberately NOT in _RETRIEVAL_QUERIES: its
    trigram fold legitimately applies the ·131 hash to POOL documents'
    tokens, which the textual corpus-embed marker cannot distinguish
    from a corpus embed."""
    rep = _plan(spark, "q_late_interaction")
    locs = [s.get("location", "") for s in rep.scans]
    assert locs and all("documents" in loc for loc in locs), locs
    assert "BroadcastHashJoin" in rep.raw
    assert rep.n_bnlj == 0


@pytest.mark.parametrize("name", _RETRIEVAL_QUERIES)
def test_retrieval_never_embeds_corpus(name, spark):
    df = all_specs()[name].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    i = 0
    while True:
        i = plan.find(_EMBED_MARKER, i)
        if i < 0:
            break
        window = plan[max(0, i - _EMBED_WINDOW) : i + _EMBED_WINDOW]
        assert _CORPUS_SPLIT not in window, (
            f"{name}: optimized plan hash-embeds the documents text "
            "column — a retrieval query re-embedding the corpus is a "
            "full compute pass per call at 100 TB; probe the stored "
            "index from api.ensure_vector_index instead"
        )
        i += 1


def test_ivf_layout_stats_reads_no_vector_bytes(spark):
    """The scaled-layout index-stats report (ivf.ivf_layout_stats,
    r15 registration candidate) must compute its per-cell counts from
    the PARTITION COLUMN ALONE: the layout scan's ReadSchema is empty
    (cell is a directory key, dv/doc_id never leave the reader), and
    the whole report is two exchanges (per-cell partial counts, then
    the single summary row) — at 5B vectors the shuffle carries ≤cells
    longs, never a vector byte."""
    from document_query_system_spark.operators.ivf import ivf_layout_stats

    rep = plan_report(ivf_layout_stats(spark, SF_DIR))
    locs = [s.get("location", "") for s in rep.scans]
    assert locs and all("vector_index_ivf_c" in loc for loc in locs), locs
    assert all(s["columns"] == "" for s in rep.scans), rep.scans
    assert rep.n_shuffles <= 2


def test_published_topk_probes_manifest_layout_statically(spark):
    """The manifest-resolved read path (pipeline.published_ivf_topk —
    staged r15 row) must keep the IVF probe's plan shape when the
    layout and centroids come from the BLUE/GREEN POINTER instead of
    the session builders: every scan sits on the manifest-resolved
    cells-tagged layout, the probe cells land as static
    PartitionFilters, no corpus embed, no cross join — resolving
    through CURRENT changes only WHERE the plan reads, never its
    shape."""
    import re

    from document_query_system_spark.operators.pipeline import (
        published_ivf_topk,
    )

    rep = plan_report(published_ivf_topk(spark, SF_DIR))
    locs = [s.get("location", "") for s in rep.scans]
    assert locs and all("vector_index_ivf_c" in loc for loc in locs), locs
    assert "BroadcastHashJoin" in rep.raw
    assert rep.n_bnlj == 0
    assert _CORPUS_SPLIT not in rep.raw
    pfs = [
        m
        for m in re.findall(r"PartitionFilters: \[([^\]]*)\]", rep.raw)
        if "cell" in m
    ]
    assert pfs and any("INSET" in m or " IN " in m for m in pfs), pfs
