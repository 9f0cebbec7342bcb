"""Physical-plan audit: dump .explain("formatted") for the headline
operators and assert the properties that matter at 100 TB.

Checked properties (see ``audit()``):
* filters pushed to the Parquet scan (``PushedFilters`` non-empty where a
  filter exists);
* column pruning (``ReadSchema`` contains only consumed columns);
* small dimensions broadcast (``BroadcastHashJoin`` for the dim joins);
* whole-stage codegen present on the relational path.

Run: ``python -m biomedical_entity_linking_spark.plans.report`` writes
``EXPLAIN.md`` at the repo root.
"""

from __future__ import annotations

import contextlib
import io


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
        # simple mode carries the whole-stage-codegen `*(n)` markers that
        # formatted mode omits
        df.explain()
    return buf.getvalue()


def audit(sf_dir: str = "/root/testdata/sf0.01") -> str:
    import sys

    sys.path.insert(0, ".")
    import __spark_entry__ as E
    from biomedical_entity_linking_spark.session import get_spark

    spark = get_spark(app_name="plan-audit", cores=8)
    sections: list[str] = [
        "# EXPLAIN — physical-plan audit of headline operators\n",
        "Generated by `python -m biomedical_entity_linking_spark.plans.report`.\n",
    ]
    checks: list[str] = []

    def add(
        name: str, df, expect: list[str], forbid: list[str] | None = None
    ) -> None:
        plan = _formatted(df)
        sections.append(f"## {name}\n\n```\n{plan}\n```\n")
        for marker in expect:
            ok = marker in plan
            checks.append(f"- {'✅' if ok else '❌'} `{name}`: expects `{marker}`")
        for marker in forbid or []:
            ok = marker not in plan
            checks.append(
                f"- {'✅' if ok else '❌'} `{name}`: forbids `{marker}`"
            )

    add(
        "pricing_summary",
        E.q_pricing_summary(spark, sf_dir),
        ["PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate",
         "partial_sum",   # map-side combine
         "Batched: true"],  # vectorized parquet scan
    )
    add(
        "top_revenue_orders",
        E.q_top_revenue_orders(spark, sf_dir),
        ["BroadcastHashJoin", "Batched: true"],
    )
    add(
        "token_stats (pure-Catalyst text op)",
        E.queries()["token_stats"](spark, sf_dir),
        ["ReadSchema: struct<doc_id:bigint,text:string>"],
    )
    add(
        "ivf_topk (cell-sharded ANN)",
        E.queries()["ivf_topk"](spark, sf_dir),
        # cogroup on the IVF cell key: the vectorized per-cell matmul kernel
        ["FlatMapCoGroupsInPandas", "Batched: true"],
    )
    add(
        "recall_modes (HOF hit indices)",
        E.queries()["recall_modes"](spark, sf_dir),
        # nested-array hit logic stays in Catalyst expressions (no UDF node)
        ["HashAggregate", "Batched: true"],
    )
    add(
        "mention_spans (window span filter)",
        E.queries()["mention_spans"](spark, sf_dir),
        ["Window", "ReadSchema: struct<doc_id:bigint,text:string>"],
    )
    add(
        "proto_topk (G8 dispatch — small regime: broadcast two-score kernel)",
        E.queries()["proto_topk"](spark, sf_dir),
        ["MapInPandas", "Batched: true"],
        forbid=["FlatMapCoGroupsInPandas"],
    )
    import biomedical_entity_linking_spark.operators.similarity as S

    _saved = S.BRUTE_FORCE_MAX
    S.BRUTE_FORCE_MAX = 1
    try:
        add(
            "proto_topk (G8 dispatch — IVF regime, switch forced)",
            E.queries()["proto_topk"](spark, sf_dir),
            ["FlatMapCoGroupsInPandas"],
            forbid=["MapInPandas"],  # the driver-collect path is unreachable
        )
    finally:
        S.BRUTE_FORCE_MAX = _saved
    add(
        "embedding_neardup (IVF-cell banded candidate join @ cos >= 0.95)",
        E.queries()["embedding_neardup"](spark, sf_dir),
        # r6: the cell/norm relation materializes once (lazy
        # localCheckpoint) — the query plan consumes it as an RDD scan;
        # the full pre-boundary shape is pinned in plans/r06
        ["HashAggregate", "Scan ExistingRDD"],
        # candidate generation must be an equi-join on the cell key,
        # never an all-pairs product
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin"],
    )
    add(
        "ladder_graphs (2^i joint-graph family)",
        E.queries()["ladder_graphs"](spark, sf_dir),
        # one kNN search feeds every k; the per-k family is a tiny-side
        # non-equi join (nested loop over <=5 ladder rows is the point)
        ["MapInPandas"],
    )
    S.BRUTE_FORCE_MAX = 1
    try:
        add(
            "ladder_graphs (shared G8 dispatch — IVF regime, switch forced)",
            E.queries()["ladder_graphs"](spark, sf_dir),
            # both NN relations route through similarity.knn_join: above the
            # switch the IVF cogroup kernel runs and the driver-collect
            # (broadcast MapInPandas) path is structurally unreachable
            ["FlatMapCoGroupsInPandas"],
            forbid=["MapInPandas"],
        )
    finally:
        S.BRUTE_FORCE_MAX = _saved
    add(
        "dup_spans (exact substring dedup — duplicated 8-gram spans)",
        E.queries()["dup_spans"](spark, sf_dir),
        # pure Catalyst end-to-end: partial-agg'd gram groupBy (map-side
        # combine defuses hot boilerplate grams), equi-join flag-back,
        # per-doc window islands — never a Python UDF or all-pairs product
        ["partial_min", "Window", "HashAggregate", "Batched: true"],
        forbid=["MapInPandas", "FlatMapCoGroupsInPandas", "CartesianProduct"],
    )
    add(
        "decontamination (benchmark n-gram overlap)",
        E.queries()["decontamination"](spark, sf_dir),
        # the tiny benchmark gram set broadcasts; the corpus-side scan
        # never shuffles before the per-doc aggregate
        ["BroadcastHashJoin", "Batched: true"],
        forbid=["CartesianProduct", "MapInPandas"],
    )
    add(
        "repetition_scores (Gopher repetition filters)",
        E.queries()["repetition_scores"](spark, sf_dir),
        # per-row HOFs only: no aggregate, no join, no Python — a pure map
        # stage over the scan (the final orderBy is the only exchange)
        ["ReadSchema: struct<doc_id:bigint,text:string>", "Batched: true"],
        forbid=["HashAggregate", "MapInPandas", "SortMergeJoin"],
    )
    add(
        "stratified_sample (deterministic training-mix sampling)",
        E.queries()["stratified_sample"](spark, sf_dir),
        # pure per-row map + filter: at 10^12 rows the keep-decision fuses
        # into the scan; no shuffle except the demo orderBy, no aggregate
        ["Filter", "Batched: true"],
        forbid=["HashAggregate", "MapInPandas", "SortMergeJoin",
                "CartesianProduct"],
    )
    add(
        "shard_packing (per-stream token-budget packing)",
        E.queries()["shard_packing"](spark, sf_dir),
        # ONE hash shuffle on the stream key, then a per-stream running-sum
        # window: global sequential packing would be a single-partition
        # window — the stream key is the parallelism knob
        ["Window", "hashpartitioning(stream", "Batched: true"],
        forbid=["MapInPandas", "SortMergeJoin", "CartesianProduct"],
    )
    add(
        "pii_scrub (PII detection + redaction)",
        E.queries()["pii_scrub"](spark, sf_dir),
        # pure per-row regex map — no shuffle beyond the demo orderBy, no
        # aggregate, no Python; fuses into the scan at any scale
        ["Batched: true"],
        forbid=["HashAggregate", "MapInPandas", "SortMergeJoin",
                "CartesianProduct"],
    )
    add(
        "url_dedup (URL canonicalization + spelling-level dedup)",
        E.queries()["url_dedup"](spark, sf_dir),
        # pure per-row synthesize+canonicalize fused into the scan (one
        # codegen span). Column pruning reaches THROUGH the shared
        # synthesis helper: _noisy_urls selects n_chars but url_dedup
        # never aggregates it, so the scan reads only (doc_id, source);
        # the only shuffle is the counting groupBy on the canonical
        # string (small groups, map-side combine: partial_count below)
        ["partial_count", "partial_min", "HashAggregate", "Batched: true",
         "ReadSchema: struct<doc_id:bigint,source:string>"],
        forbid=["BatchEvalPython", "MapInPandas", "SortMergeJoin",
                "CartesianProduct"],
    )
    add(
        "pair_scores (flagship JW + token-set-Lev kernels, oracle-hashed)",
        E.queries()["pair_scores"](spark, sf_dir),
        # blocked title self-join (equi-key, never all-pairs), then ONE
        # Arrow batch boundary for the production score UDF — per-row
        # Python (BatchEvalPython) must never appear
        ["ArrowEvalPython", "Batched: true"],
        forbid=["BatchEvalPython", "CartesianProduct"],
    )
    add(
        "tfidf_cosine_topk (char-3gram sparse tf-idf cosine, inverted index)",
        E.queries()["tfidf_cosine_topk"](spark, sf_dir),
        # sparse dot product AS a relational inverted-index equi-join on
        # the gram key + integer aggregates; per-query top-k is a window,
        # never a global sort of all pairs; no Python anywhere
        ["HashAggregate", "Window"],
        forbid=["CartesianProduct", "BatchEvalPython", "ArrowEvalPython",
                "MapInPandas"],
    )
    add(
        "pagerank (integer-exact fixed-point power iteration)",
        E.queries()["pagerank"](spark, sf_dir),
        # rounds 1..4 are localCheckpoint-ed (lineage cut); the returned
        # plan is the LAST round: rank ⋈ pre-weighted edges (outdeg folded
        # in ONCE before the loop — round-5 fix, −36% wall) + the inflow
        # groupBy-SUM whose map-side partial absorbs hub-key skew
        ["HashAggregate", "partial_sum"],
        forbid=["CartesianProduct", "BatchEvalPython", "ArrowEvalPython",
                "MapInPandas"],
    )
    add(
        "click_attribution_asof (as-of join as union + carry-forward window)",
        E.queries()["click_attribution_asof"](spark, sf_dir),
        # the as-of is NOT a join at all: one union, one user-keyed
        # window — a range self-join (quadratic per user) must never
        # appear in this plan
        ["Window", "Union"],
        forbid=["SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                "BatchEvalPython", "ArrowEvalPython", "MapInPandas"],
    )
    add(
        "length_quantiles (exact integer-rank percentiles per source)",
        E.queries()["length_quantiles"](spark, sf_dir),
        # one source-keyed window rank + a conditional aggregate; scan
        # reads only (doc_id, source, n_chars) — never text
        ["Window", "HashAggregate",
         "ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>"],
        forbid=["CartesianProduct", "BatchEvalPython", "ArrowEvalPython",
                "MapInPandas", "SortMergeJoin"],
    )
    add(
        "vocab_hll_registers (mergeable HLL sketch state, per source)",
        E.queries()["vocab_hll_registers"](spark, sf_dir),
        # explode→hash→bucket/rho→max: ONE map-side-combining shuffle
        # whose key space is ≤ sources × 256 regardless of corpus size;
        # scan reads only (source, text); rho is an integer CASE ladder
        # (no libm), so the whole sketch is codegen'd JVM arithmetic
        ["Generate", "HashAggregate",
         "ReadSchema: struct<text:string,source:string>"],
        forbid=["CartesianProduct", "BatchEvalPython", "ArrowEvalPython",
                "MapInPandas", "SortMergeJoin"],
    )
    add(
        "token_cms_registers (mergeable Count-Min frequency sketch state)",
        E.queries()["token_cms_registers"](spark, sf_dir),
        # explode→4 salted buckets (posexplode of a staged array)→count:
        # one map-side-combining shuffle, key space ≤ sources × 4 × 1024
        # regardless of corpus size; scan reads only (source, text)
        ["Generate", "HashAggregate",
         "ReadSchema: struct<text:string,source:string>"],
        forbid=["CartesianProduct", "BatchEvalPython", "ArrowEvalPython",
                "MapInPandas", "SortMergeJoin"],
    )
    add(
        "benchmark_bloom_bits (mergeable Bloom membership sketch state)",
        E.queries()["benchmark_bloom_bits"](spark, sf_dir),
        # benchmark-split scan → 3 salted probe bits → DISTINCT: one
        # bounded-key aggregate (≤ sources × 4096 rows at any scale);
        # the doc_id % 10 split must reach the parquet scan as a filter
        ["Generate", "HashAggregate", "PushedFilters"],
        forbid=["CartesianProduct", "BatchEvalPython", "ArrowEvalPython",
                "MapInPandas", "SortMergeJoin"],
    )
    add(
        "length_histogram (mergeable log-binned quantile sketch state)",
        E.queries()["length_histogram"](spark, sf_dir),
        # integer CASE-ladder binning (no libm) → one bounded-key
        # aggregate (≤ sources × ~210 bins); scan reads only
        # (source, n_chars) — never text
        ["HashAggregate",
         "ReadSchema: struct<source:string,n_chars:bigint>"],
        forbid=["CartesianProduct", "BatchEvalPython", "ArrowEvalPython",
                "MapInPandas", "SortMergeJoin", "Generate"],
    )
    add(
        "host_stats (registrable-domain aggregation)",
        E.queries()["host_stats"](spark, sf_dir),
        ["HashAggregate", "Batched: true"],
        forbid=["BatchEvalPython", "MapInPandas", "SortMergeJoin",
                "CartesianProduct"],
    )
    add(
        "neardup_clusters (LSH edges → connected components readoff)",
        E.queries()["neardup_clusters"](spark, sf_dir),
        # the iterative CC loop runs eagerly while building this frame
        # (per-round localCheckpoint + checksum); the returned plan is
        # the label readoff joined with cluster sizes over the final
        # checkpointed star edges — no cartesian anywhere, and the
        # size attach stays a broadcast-side join at this cardinality
        ["HashAggregate"],
        forbid=["CartesianProduct", "BatchEvalPython"],
    )
    add(
        "vocab_topk (corpus vocabulary head, single-scan exact)",
        E.queries()["vocab_topk"](spark, sf_dir),
        # counts by 8-byte xxhash64 keys (heavy-tail web vocab: 33.5M
        # distinct tokens at 1M docs — string keys spill) and
        # REPARTITIONS BEFORE COUNTING (REPARTITION_BY_COL below the
        # aggregate pair): an unbounded map-side combine map on a
        # heavy-tail key measured 592 CPU-s/126 GC-s vs 101/0.5 for the
        # same work (see vocab_topk docstring); min/max token per hash
        # group prove the head collision-free in the same pass (partial_
        # min below), so the corpus is scanned ONCE — the broadcast-join
        # recount branch is the lazily-unioned collision repair that AQE
        # empty-propagates away at runtime; TakeOrdered at both ends,
        # never a global sort; InMemoryTableScan = the ≤10k-row candidate
        # relation shared by both branches
        # note: the count+min+max aggregate is a SortAggregate pair —
        # string min/max buffers are not fixed-width so HashAggregate
        # can't hold them; measured cost of that fallback (the min/max
        # increment over a count-only phase 1) scales 50.7 -> 13.0 s at
        # 2 -> 8 cores (eff 0.97), so it is the right trade vs a second
        # corpus scan. HashAggregate in this plan belongs to the repair
        # branch's recount (AQE-pruned at runtime, see
        # tests/test_training_mix.py::test_vocab_topk_aqe_prunes_*).
        ["partial_count", "partial_min", "SortAggregate",
         "TakeOrderedAndProject", "HashAggregate", "BroadcastHashJoin",
         "xxhash64", "REPARTITION_BY_COL", "InMemoryTableScan", "Union"],
        forbid=["MapInPandas", "CartesianProduct", "SortMergeJoin"],
    )
    add(
        "triangle_count (degree-ordered orientation)",
        E.queries()["triangle_count"](spark, sf_dir),
        # wedge + closing joins are EQUI-joins (sort-merge on a, then on
        # the (w1, w2) pair key — inputs are checkpointed RDD scans, so
        # no Batched/ReadSchema markers); per-node readoff combines
        # map-side
        ["HashAggregate", "partial_count", "SortMergeJoin"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython", "MapInPandas"],
    )
    add(
        "blocking_quality (pair-sum identity, no pair materialization)",
        E.queries()["blocking_quality"](spark, sf_dir),
        # one (cell8, label) contingency rolled up to 6/4 bits; each
        # scheme's pair counts are the shared tagged-union agg, so the
        # c·(c−1)/2 sums combine map-side, no stage ever holds a pair row
        # and no join assembles the row; the contingencies are lazily
        # checkpointed (ExistingRDD), the item scan sits below — next entry
        ["partial_sum", "HashAggregate", "Union", "Scan ExistingRDD"],
        forbid=["CartesianProduct", "BatchEvalPython", "MapInPandas",
                "SortMergeJoin", "BroadcastHashJoin",
                "BroadcastNestedLoopJoin", "Window"],
    )
    from biomedical_entity_linking_spark.operators import er_quality

    add(
        "blocking_quality contingency count (the item scan below its "
        "checkpoint)",
        er_quality._embedding_cells(spark, sf_dir, 8)
        .groupBy("sys", "gold")
        .count(),
        # map-side-combinable count over the vectorized scan; vec_id pruned
        ["partial_count", "HashAggregate", "Batched: true",
         "ReadSchema: struct<embedding:array<float>,label:int>"],
        forbid=["CartesianProduct", "BatchEvalPython", "MapInPandas",
                "SortMergeJoin", "Window"],
    )
    add(
        "prefix_jaccard_join (exact set-similarity join, prefix-filtered)",
        E.queries()["prefix_jaccard_join"](spark, sf_dir),
        # candidate generation is an equi-join on prefix tokens (the df
        # tail); the verify stage is pure Catalyst array intersection
        # r6: token/prefix/set relations materialize once (lazy
        # localCheckpoint; window rank lives below that boundary, pinned
        # in plans/r06); the verify stage stays pure Catalyst
        ["HashAggregate", "array_intersect", "Scan ExistingRDD"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython", "MapInPandas"],
    )
    add(
        "edit_distance_join (exact Levenshtein-<=D join, segment pigeonhole)",
        E.queries()["edit_distance_join"](spark, sf_dir),
        # candidate generation must be an EQUI-join on (seg_idx, len,
        # segment) — never an all-pairs product; the verify stage is the
        # built-in JVM levenshtein, no Python anywhere
        ["HashAggregate", "levenshtein", "Scan ExistingRDD"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython", "MapInPandas"],
    )
    add(
        "containment_join (A-side prefix probe vs full postings, exact verify)",
        E.queries()["containment_join"](spark, sf_dir),
        # probes come from the SMALL side's prefix only; candidates are
        # an equi-join on tokens; verify is array_intersect cross-mult
        ["HashAggregate", "Window", "array_intersect"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython", "MapInPandas"],
    )
    add(
        "group_linkage (member equi-join Dice + mutual-best handshake)",
        E.queries()["group_linkage"](spark, sf_dir),
        # r6: roster + scored relations materialize once (lazy
        # localCheckpoint; the member join, Dice agg and the max_by
        # argmax live below that boundary — plans/r06); the top plan is
        # the handshake + re-attach joins
        ["SortMergeJoin", "Scan ExistingRDD"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython", "MapInPandas"],
    )
    add(
        "clk_linkage (CLK bit_or encode, nonzero-word banding, Dice verify)",
        E.queries()["clk_linkage"](spark, sf_dir),
        # encode = one groupBy of bit_or aggs; banding = bounded explode;
        # verify = per-row bit_count expressions over the candidate join
        ["HashAggregate", "bit_count", "Scan ExistingRDD"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython", "MapInPandas", "Window"],
    )
    add(
        "fs_tf_posteriors (value-keyed tf joins, literal-embedded chain)",
        E.queries()["fs_tf_posteriors"](spark, sf_dir),
        # tf relations are count aggs over the scan; the posterior edges
        # are the checkpointed γ pairs (ExistingRDD) × the pattern
        # broadcast; the tf u-chain is pure JVM expression; lang/source
        # tf relations broadcast
        ["HashAggregate", "BroadcastHashJoin", "Batched: true",
         "Scan ExistingRDD"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython", "MapInPandas"],
    )
    add(
        "waterfall_link (K-pass unique-key cascade: counts + anti-joins)",
        E.queries()["waterfall_link"](spark, sf_dir),
        # per pass: one map-side-combinable count agg, one key equi-join,
        # one anti-join, each pass's links and pool lazily checkpointed —
        # the top plan is the union of the K checkpointed link relations;
        # nothing quadratic, no window
        ["Scan ExistingRDD", "Union"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython", "MapInPandas", "Window"],
    )
    add(
        "pair_features (blocked pairs -> integer feature vectors, one join)",
        E.queries()["pair_features"](spark, sf_dir),
        # ONE blocked self-join; every feature a per-row JVM expression
        # (levenshtein, array_intersect) — no agg pass, no Python
        ["levenshtein", "array_intersect", "Batched: true"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython", "MapInPandas", "Window"],
    )
    add(
        "cluster_conflicts (stack unpivot -> one value-key agg + windows)",
        E.queries()["cluster_conflicts"](spark, sf_dir),
        # the unpivot is a per-row Expand/Generate fused into the scan;
        # one shuffle on (cluster, attr, value), windows reuse it
        ["HashAggregate", "Window", "Batched: true"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython", "MapInPandas"],
    )
    add(
        "ari_quality (contingency-only RI/ARI: sort-free tagged-union counts)",
        E.queries()["ari_quality"](spark, sf_dir),
        # pair counts come from the contingency relation alone — its
        # cells and per-side marginals tagged into one agg; no window,
        # no join, pairs never materialize; contingency checkpointed
        ["HashAggregate", "Union", "Scan ExistingRDD"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "BroadcastNestedLoopJoin", "BatchEvalPython", "MapInPandas",
                "Window"],
    )
    add(
        "muc_quality (missing-link counts off the contingency relation)",
        E.queries()["muc_quality"](spark, sf_dir),
        # one shuffle keyed (sys, gold); per-side sums are sort-free
        # groupBys union'd into the shared tagged-union agg — no window,
        # no join of any kind; contingency checkpointed
        ["HashAggregate", "Union", "Scan ExistingRDD"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "BroadcastNestedLoopJoin", "BatchEvalPython", "MapInPandas",
                "Window"],
    )
    add(
        "vmeasure_quality (log-binned entropies off the checkpointed "
        "contingency)",
        E.queries()["vmeasure_quality"](spark, sf_dir),
        # one item-scale shuffle into the checkpointed contingency; the
        # per-cell marginal rejoins are sort-free key joins (broadcast at
        # this SF), the item total N rides a 1-row broadcast loop join
        # into ONE agg over cells — no Window anywhere
        ["HashAggregate", "Scan ExistingRDD", "BroadcastNestedLoopJoin"],
        forbid=["CartesianProduct", "BatchEvalPython", "MapInPandas",
                "Window"],
    )
    add(
        "kcore_decomposition (6-round degree peel over checkpointed state)",
        E.queries()["kcore_decomposition"](spark, sf_dir),
        # the FINAL round's plan: checkpointed alive/edge relations
        # (ExistingRDD — the per-round localCheckpoint lineage cut),
        # map-side-combinable degree count, survivor join + peel union
        ["HashAggregate", "ExistingRDD", "Union"],
        forbid=["CartesianProduct", "BatchEvalPython", "MapInPandas",
                "Window"],
    )
    add(
        "blanc_quality (link/non-link pair counts, muc-style tagged union)",
        E.queries()["blanc_quality"](spark, sf_dir),
        # one contingency shuffle; p_both/p_sys/p_gold via the shared
        # tagged-union agg — no window, no join; contingency checkpointed
        ["HashAggregate", "Union", "Scan ExistingRDD"],
        forbid=["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
                "BroadcastNestedLoopJoin", "BatchEvalPython", "MapInPandas",
                "Window"],
    )
    add(
        "bcubed_quality (per-cell sums off the contingency, no item join)",
        E.queries()["bcubed_quality"](spark, sf_dir),
        # Σ c·(c·10⁶ div n_sys) over contingency cells joined to their
        # marginals; items only feed the one contingency shuffle (below
        # its checkpoint) and are never joined back
        ["Scan ExistingRDD", "HashAggregate"],
        forbid=["CartesianProduct", "SortMergeJoin", "BatchEvalPython",
                "MapInPandas", "Window"],
    )
    add(
        "event_sessions (gap-threshold sessionization, one stateless window)",
        E.queries()["event_sessions"](spark, sf_dir),
        # one user_id hash shuffle feeds the lag window, the running-sum
        # window, and the per-session aggregate
        ["Window", "HashAggregate", "Batched: true"],
        forbid=["CartesianProduct", "BatchEvalPython", "MapInPandas",
                "SortMergeJoin"],
    )
    add(
        "funnel_conversion (strict-order funnel via nested window mins)",
        E.queries()["funnel_conversion"](spark, sf_dir),
        # stage timestamps are conditional mins over per-user windows —
        # no self-join, no explode, single summary row out
        ["Window", "HashAggregate", "Batched: true"],
        forbid=["CartesianProduct", "BatchEvalPython", "MapInPandas",
                "SortMergeJoin"],
    )
    add(
        "survivorship (golden record: one shuffle, window rules share it)",
        E.queries()["survivorship"](spark, sf_dir),
        # one hash partitioning on the cluster key feeds the aggregate and
        # both window rules; deterministic mode via count-then-rank
        ["Window", "HashAggregate", "partial_min", "Batched: true"],
        forbid=["CartesianProduct", "BatchEvalPython", "MapInPandas"],
    )
    add(
        "incremental_linkage (delta vs canonical, base never re-scored)",
        E.queries()["incremental_linkage"](spark, sf_dir),
        # canonical groupBy sits below the block-key equi-join; per-delta
        # window argmin; built-in integer levenshtein (no Python anywhere)
        ["HashAggregate", "Window", "levenshtein", "Batched: true"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython", "MapInPandas"],
    )
    add(
        "fs_pair_posteriors (Fellegi–Sunter linker: blocked pairs × "
        "broadcast per-pattern posterior)",
        E.queries()["fs_pair_posteriors"](spark, sf_dir),
        # the ≤ 2^K-row resp relation must broadcast onto the pair
        # relation; the blocked γ pairs are lazily checkpointed (the EM
        # count fills them), the block-key equi-join sits below
        ["BroadcastHashJoin", "Scan ExistingRDD"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython", "MapInPandas"],
    )
    add(
        "fs_uncertain_pairs (active-learning batch: posterior closest to "
        "1/2, deterministic global top-k)",
        E.queries()["fs_uncertain_pairs"](spark, sf_dir),
        # the k-row selection must be a per-partition heap + k-row driver
        # merge (TakeOrderedAndProject), NEVER a global range-partitioned
        # sort; posterior lookup stays the broadcast of ≤ 2^K rows onto
        # the checkpointed γ pairs
        ["TakeOrderedAndProject", "BroadcastHashJoin", "Scan ExistingRDD"],
        forbid=["rangepartitioning", "CartesianProduct",
                "BroadcastNestedLoopJoin", "BatchEvalPython", "MapInPandas"],
    )
    add(
        "metablocking_prune (df-purged posting join -> CBS agg -> WNP windows)",
        E.queries()["metablocking_prune"](spark, sf_dir),
        # block purging must precede the posting self-join; CBS is one
        # map-side-combinable count; the WNP mean test is a window over
        # the symmetrized edges — cross-multiplied, no division
        # r6: toks/kept/edges materialize once (lazy localCheckpoint;
        # the posting self-join and CBS agg shapes are pinned in
        # plans/r06); the WNP window + union run above that boundary
        ["HashAggregate", "Window", "Union", "Scan ExistingRDD"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython", "MapInPandas"],
    )
    add(
        "fs_mutual_match (symmetric handshake: argmax window + self equi-join)",
        E.queries()["fs_mutual_match"](spark, sf_dir),
        # r6: per-node argmax is a max_by partial agg and the best
        # relation materializes once (lazy localCheckpoint; symmetrize
        # union + agg live below the boundary — plans/r06); the top plan
        # is the handshake self equi-join
        ["SortMergeJoin", "Scan ExistingRDD"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython", "MapInPandas"],
    )
    from biomedical_entity_linking_spark.operators import phonetic_blocking

    add(
        "multipass_blocking core (15 compound-key pair-sums in ONE "
        "GROUPING SETS pass — the driver query collects this 15-row "
        "relation)",
        phonetic_blocking.multipass_gid_sums(spark, sf_dir),
        # GROUPING SETS = one corpus scan feeding an Expand into a
        # map-side-combinable aggregate; 15 sequential passes would
        # show 15 scans instead
        ["Expand", "HashAggregate", "Batched: true"],
        forbid=["CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython", "MapInPandas"],
    )
    add(
        "lm_fluency (bigram-LM fluency filter: model counts + join-back)",
        E.queries()["lm_fluency"](spark, sf_dir),
        # bigram model = repartition-first map-side-combinable count; the
        # per-doc stats are one map-side-combinable agg; the V scalar is a
        # 1-row broadcast (BNLJ over single rows — sanctioned, same as
        # pagerank's n_rel attach); integer bin-ladder surprisal, no libm,
        # no Python anywhere
        ["HashAggregate", "Scan ExistingRDD"],
        forbid=["CartesianProduct", "BatchEvalPython", "ArrowEvalPython",
                "MapInPandas"],
    )
    # --- expression-staging lint over EVERY driver query (VERDICT r4 #8):
    # flag loop-invariant expensive calls (regex/split/nested HOF) inside
    # lambdafunction bodies — the structural form of the O(L^2) interpreted
    # re-evaluation that round 4 found six times by timing.
    from .staging_lint import lint

    lint_lines: list[str] = []
    flagged = 0
    for qname, fn in E.queries().items():
        findings = lint(fn(spark, sf_dir))
        if findings:
            flagged += 1
            lint_lines.append(f"- ❌ `{qname}`:")
            lint_lines.extend(f"  - {f}" for f in findings)
        else:
            lint_lines.append(f"- ✅ `{qname}`: no non-staged lambda work")
    checks.append(
        f"- {'✅' if flagged == 0 else '❌'} `staging-lint`: "
        f"{flagged} of {len(E.queries())} queries carry loop-invariant "
        "expensive expressions inside HOF lambdas"
    )
    sections.append(
        "## Expression-staging lint (all driver queries)\n\n"
        "Loop-invariant `split`/regex/nested-HOF calls inside a\n"
        "`lambdafunction` body re-evaluate once per array element\n"
        "(interpreted, no CSE) — O(L^2) per row. `plans.staging_lint`\n"
        "walks the optimized plan and flags any expensive call whose\n"
        "argument references no enclosing lambda variable.\n\n"
        + "\n".join(lint_lines)
        + "\n"
    )
    sections.append(SKEW_NOTE)
    sections.insert(2, "## Plan-property checks\n\n" + "\n".join(checks) + "\n")
    return "\n".join(sections)


SKEW_NOTE = """## Hot blocking keys at 10^12 rows — caps, counters, salting

The blocking self-join is the one place a web corpus can go quadratic: one
viral title ("Untitled Document") shared by ~2% of pages puts ~2x10^10
rows under a single LSH band key at 10^12 pages — C(2x10^10, 2) ≈ 2x10^20
comparisons on one reducer if nothing intervenes. Three layered defenses,
in the order they fire:

1. **Deterministic per-key cap** (`generate_candidate_pairs`,
   `max_block_size=64`): within any block only the 64 smallest-rid rows
   pair (rid is already a hash → the sample is uniform and reproducible),
   bounding every key at C(64,2) = 2,016 comparisons. Rows beyond the cap
   are dropped *for that key only* — the same records still pair under
   their other 16 LSH bands and 2 sorted-neighborhood keys, so intra-entity
   recall survives (the e2e F1 gate proves it: dropped viral-title pairs
   are cross-entity junk whose titles collide but whose bodies don't).
2. **Lineage counters, never silent**: the block-stats aggregate logs
   `rows_capped` and `total_key_rows` per key kind. `bench.py` and the e2e
   test ASSERT `rows_capped / total_key_rows <= 0.5%` — the cap is a skew
   escape hatch, and the gate turns a corpus whose keys are skewed beyond
   the design point into a loud failure instead of quiet recall loss.
3. **AQE skew-join split** (`spark.sql.adaptive.skewJoin.enabled=true`)
   splits residual oversized post-shuffle partitions of the pair join at
   runtime — the second line of defense for moderately hot keys under the
   cap.

**Worked salting example** — if a deployment must score a hot block
exhaustively (cap disabled): two-sided salting of the self-join. Give each
row of hot key K a shard `r = rid % s`; emit the build side once per shard
pair so every (a, b) pair meets exactly once, i.e. join on
`(K, r_a, r_b)` over the s^2 shard pairs. Sizing: target ≤ 6.4x10^7
comparisons per task → `s = ceil(block_size / 8,000)`. The viral-title key
at block_size = 2x10^7 (0.01 TB slice) gives s = 2,500 → 6.25x10^6 tasks
of 64M comparisons each — numerically possible, which is exactly why the
cap (defense 1) is the default: those 4x10^14 comparisons are
provably-junk cross-entity pairs and the engine refuses to spend a
cluster-month on them unless explicitly told to.
"""


if __name__ == "__main__":
    report = audit()
    with open("EXPLAIN.md", "w") as f:
        f.write(report)
    print("wrote EXPLAIN.md")
    print("\n".join(l for l in report.splitlines() if l.startswith("- ")))
