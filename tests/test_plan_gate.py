"""Plan-regression gate: physical-plan invariants for catalog queries.

Pins the plan FEATURES that make each query scale — explicit broadcast
joins, shuffle counts, parquet filter pushdown, scan-schema pruning — so
a refactor that silently drops a ``broadcast()`` hint, blocks a pushdown,
or adds a shuffle fails CI instead of shipping a 100 TB regression
(VERDICT r2 item 7).

Auto-broadcast is disabled for the gate (``autoBroadcastJoinThreshold=-1``)
so a BroadcastHashJoin in the plan can come ONLY from an explicit
``F.broadcast`` hint — at test SF the optimizer's size estimates would
otherwise broadcast everything and mask a lost hint. AQE is left on (the
plan string is captured pre-execution, so counts are deterministic).

``spark.sql.maxMetadataStringLength`` is raised from its 100-char default:
at 100, FileScan's ``PushedFilters``/``ReadSchema`` entries are truncated
mid-list ("IsNotNull(o_custk..."), the closing bracket never appears, and
the regex reads a pushed filter as absent (and a 7-column ReadSchema as
5). Round-3's red gate and the "unpushed timestamp filter" verdict finding
were both this truncation, not plan defects — the filters push fine.

``min_bhj`` is asserted ONLY where the build side is bounded at any SF
(region/nation: 5/25 rows; filtered part/variant dims). Filtered FACT
sides (q3's customer, the anti-join orders sides of customers_without_
orders / priority_gap_fill / upsert_orders) grow linearly with SF, so
SMJ is the scale-correct plan there and the gate pins max_smj /
max_shuffles instead of demanding a broadcast that would OOM at 100 TB.
"""

from __future__ import annotations

import re

import pytest

from shopify_etl_spark.plans import QUERIES
from tests._plan_cache import GATE_CONFS, set_confs

SF_DIR = "/root/testdata/sf0.001"

# name -> invariant bounds, measured on the current plans and pinned with
# the semantics (not the accident) in mind:
#   max_shuffles — Exchange count ceiling (more = a new shuffle crept in)
#   min_bhj      — explicit-broadcast floor (fewer = a hint was lost)
#   max_smj      — sort-merge-join ceiling (more = a broadcast degraded)
#   pushed       — every parquet scan that has filters must push ≥1 down
#   max_scan_width — widest ReadSchema field count (column-pruning proof)
EXPECT = {
    "q1_pricing_summary": dict(max_shuffles=1, pushed=True, max_scan_width=7),
    "q3_shipping_priority": dict(
        max_shuffles=5, max_smj=2, pushed=True, max_scan_width=4
    ),
    "q5_region_revenue": dict(max_shuffles=7, min_bhj=2, max_smj=3, pushed=True),
    "part_brand_volume": dict(max_shuffles=1, min_bhj=1, max_smj=0, max_scan_width=3),
    "customers_without_orders": dict(
        max_shuffles=3, max_smj=1, pushed=True, max_scan_width=2
    ),
    "priority_gap_fill": dict(
        max_shuffles=2, max_smj=1, pushed=True, max_scan_width=3
    ),
    "latest_order_per_customer": dict(max_shuffles=1, max_scan_width=4),
    "upsert_orders": dict(max_shuffles=2, max_smj=1, pushed=True, max_scan_width=4),
    "daily_event_snapshot": dict(max_shuffles=1, max_scan_width=3),
    "current_inventory_analog": dict(max_shuffles=5, min_bhj=3, pushed=True),
    "exact_dedup_docs": dict(max_shuffles=1, max_scan_width=2),
    # r14 crawl-ingest chain: one shuffle for the archive grouping
    # (applyInPandas), plus the tiny per-file aggregate where present;
    # the record splitter and extraction are zero-shuffle map stages.
    "warc_ingest_stats": dict(max_shuffles=2, max_scan_width=2),
    "html_extract_docs": dict(max_shuffles=1, max_scan_width=2),
    "crawl_curation_chain": dict(max_shuffles=2, max_scan_width=2),
    # r14 multimodal interleave: join of the two modality sides + the
    # packer's bounded prefix-scan shuffles over the checkpointed frame
    "interleaved_mm_spans": dict(max_shuffles=5, max_scan_width=3),
    # r14 multimodal crawl: three per-file aggregates + their joins over
    # the checkpointed record table (synth+split runs once)
    "crawl_multimodal_stats": dict(max_shuffles=6, max_scan_width=2),
    # r14 domain caps: two per-host aggregates + join + the two-phase
    # capped window over the checkpointed fetch table
    "crawl_domain_caps": dict(max_shuffles=6, max_scan_width=2),
    # r15/r16 robots audit (RFC 9309): body dedupe + line window +
    # group join + rule collapse — ALL keyed on host (bounded by the
    # host count, never corpus-sized) — plus ONE per-host aggregate
    # over the broadcast-joined pages (the longest-match precedence is
    # an array HOF projection, zero shuffle), all over the
    # checkpointed response table
    "robots_compliance_audit": dict(
        max_shuffles=8, min_bhj=2, max_smj=0, max_scan_width=2
    ),
    # r15 transport fidelity: the html_extract_docs shape — synth
    # grouping is the only shuffle; dechunk/inflate ride the splitter
    "crawl_http_fidelity": dict(max_shuffles=1, max_scan_width=2),
    # r16 encoding routing: synth grouping + ONE per-label aggregate;
    # the is_decoded predicate and the routed extraction are projections
    "crawl_encoding_routing": dict(max_shuffles=2, max_scan_width=2),
    # r16 revisit resolution: synth staging union + archive grouping
    # over the checkpointed record table, then ONE digest equi-join
    # (revisit side ~5% of corpus, responses corpus-sized — SMJ is the
    # scale-correct plan)
    "warc_revisit_resolution": dict(
        max_shuffles=4, max_smj=1, max_scan_width=2
    ),
    # r15 canonical-URL dedup: synth staging union + archive grouping +
    # ONE groupBy on the canonical key (max_by latest-wins — no window)
    "url_canonical_dedup": dict(
        max_shuffles=3, max_smj=0, max_scan_width=2
    ),
    # r15 shard export: vocab agg (broadcast out) + the two-phase
    # prefix-scan machinery + the per-shard packer grouping; both small
    # sides broadcast (vocab, bucket offsets) — corpus never sort-merges
    "training_shard_export": dict(
        max_shuffles=7, min_bhj=2, max_smj=0, max_scan_width=3
    ),
    # r16 BPE shard export: the word-level export's machinery over the
    # checkpointed bpe_apply output (vocab agg broadcast, prefix-scan
    # buckets broadcast, per-shard packer grouping) + four per-SOURCE
    # aggregates broadcast-joined at the end — the corpus never
    # sort-merges
    "training_shard_export_bpe": dict(
        max_shuffles=7, min_bhj=3, max_smj=0, max_scan_width=3
    ),
    # r15 host link graph: synth grouping + ONE corpus-sized edge agg;
    # the pagerank iterations broadcast-join host-bounded frames only
    # (measured 10 exchanges: edge agg + per-step grouped sums)
    "host_link_pagerank": dict(
        max_shuffles=10, min_bhj=6, max_smj=0, max_scan_width=2
    ),
    # r15 WET round-trip: the two archive groupings (synth + WET write)
    # are the only shuffles; both splits are zero-shuffle map stages
    "wet_export_roundtrip": dict(max_shuffles=2, max_scan_width=2),
    # r16 WAT round-trip: same shape — synth grouping + the WAT packer
    # grouping; metadata extraction and JSON build/parse are JVM
    # projections
    "wat_export_roundtrip": dict(max_shuffles=2, max_scan_width=2),
    # r16 snapshot diff: two synth groupings + ONE full-outer join of
    # (url, md5) projections — both sides corpus-sized, SMJ is the
    # scale-correct plan; payloads never ride the exchange
    "crawl_snapshot_diff": dict(
        max_shuffles=4, max_smj=1, max_scan_width=2
    ),
    # r16 sitemap audit: synth grouping over the checkpointed record
    # table + ONE full-outer join of url keys (both sides corpus-sized
    # — SMJ correct) + the per-host aggregate
    "sitemap_coverage_audit": dict(
        max_shuffles=4, max_smj=1, max_scan_width=2
    ),
    # r15 CDX index: per-archive chaining window (bounded: 2·dpf+1 rows
    # per archive) + per-file agg + the byte-length join over the
    # checkpointed synth output
    "cdx_index_coverage": dict(max_shuffles=5, max_smj=1),
    # r16 SURT lookup: synth grouping over the checkpointed archives;
    # the key set broadcasts to the index, the resolved coordinates
    # broadcast to the blob side (doc identity rides the SURT key) —
    # the corpus never sort-merges and the blobs never shuffle
    "cdx_surt_lookup": dict(
        max_shuffles=2, min_bhj=2, max_smj=0, max_scan_width=2
    ),
    # r15 language routing: synth grouping + ONE per-(file,lang) agg;
    # lang-id is a projection riding the extraction pass
    "crawl_language_routing": dict(max_shuffles=2, max_scan_width=2),
    "ann_cosine_topk": dict(max_shuffles=1, max_smj=0, pushed=True),
    # round-5 additions: the CMS family must never sort-merge (sketch and
    # candidate sides are bounded by construction — broadcast hints pinned);
    # the LM/BM25 model joins are vocabulary-sized on BOTH sides, so SMJ is
    # the scale-correct plan there and only ceilings are pinned.
    "cms_heavy_hitters": dict(max_shuffles=7, min_bhj=3, max_smj=0),
    "cms_token_counts": dict(max_shuffles=4, min_bhj=2, max_smj=0),
    # r8: the tokenize pass is checkpointed (4 consumers), so no parquet
    # scan is visible in the final plan — scan-width unpinnable; the
    # scans-per-table gate below covers the subtree instead
    "lm_bigram_scores": dict(max_shuffles=7, max_smj=2),
    "bm25_champion_lists": dict(
        max_shuffles=10, min_bhj=1, max_smj=2, max_scan_width=2
    ),
    # corpus-sized-both-sides joins (vec_id / shingle keys) correctly stay
    # SMJ; the broadcast floors pin the provably tiny sides (per-source
    # sizes; the one-row normalizer is a BNLJ, allowlisted below).
    "semantic_dedup_docs": dict(max_shuffles=9, max_smj=3, max_scan_width=2),
    # scan now sits behind the shingle-set localCheckpoint (three
    # consumers, one corpus pass) so no parquet scan is visible in the
    # final plan — scan-width unpinnable, like the other checkpointed ops
    "source_overlap_matrix": dict(max_shuffles=10, min_bhj=2, max_smj=1),
    "source_mixture_weights": dict(max_shuffles=4, max_smj=0, max_scan_width=2),
    # pure narrow mapInPandas chain (synth -> encode -> decode -> stats):
    # any Exchange here means the audio pipeline stopped being a map
    "audio_demux_stats": dict(max_shuffles=0, max_smj=0, max_scan_width=1),
    "image_decode_stats": dict(max_shuffles=0, max_smj=0, max_scan_width=1),
    # fusion of two bounded top-k lists: the query-side postings/sizes are
    # broadcast (floor pinned); corpus-sized joins stay SMJ'd on 8-byte keys
    "hybrid_rrf_topk": dict(max_shuffles=10, min_bhj=2, max_smj=2),
    # r8 (VERDICT r7 #2): the scored frame is CHECKPOINTED — the r7
    # "exchanges reuse at runtime" premise was false (ReusedExchange=0,
    # subtree re-executed per consumer) — so the final plan is just the
    # tercile-threshold build + one broadcast bucket join over the
    # checkpoint; the LM subtree's scans are pinned by the
    # scans-per-table gate below
    "ccnet_ppl_buckets": dict(max_shuffles=4, min_bhj=1, max_smj=1),
    # span-hash self-aggregation + semi-join back: corpus-sized both
    # sides on 8-byte keys, SMJ correct; no scan asserted (checkpointed)
    "duplicate_span_stats": dict(max_shuffles=5, max_smj=2),
    "duplicate_span_intervals": dict(max_shuffles=5, max_smj=2),
    "trim_repeated_spans": dict(max_shuffles=6, max_smj=2),
    # final-stage plan only (the iterative clustering runs its own jobs
    # behind a checkpoint): the split projection is map-side on the
    # grouped key, one left join back to the corpus
    "leakage_safe_split": dict(max_shuffles=2, max_smj=1),
    # tokenizer apply is a pure map (the train collect runs at build
    # time as its own bounded job, like the kmeans centroid fold)
    "bpe_apply_one_merge": dict(max_shuffles=0, max_smj=0),
    # IVF-cell-blocked (r7, VERDICT r6 #4) pair join + rank window +
    # mutual self-join. r8: the assigned frame AND the directed top-k
    # list are checkpointed (each feeds both sides of a self-join), so
    # the final plan is just the k*n-bounded mutual join — the r7
    # "exchanges reuse at runtime" premise was false (12 embeddings
    # scans, 0 reuses); subtree scans pinned by the scans-per-table gate
    "mutual_knn_pairs": dict(max_shuffles=3, max_smj=1),
    "cross_corpus_near_dups": dict(max_shuffles=7, max_smj=3),
    # gate -> trim -> split chain; r11 checkpoints the GATED frame too
    # (both trim consumers read it once), which moves the threshold
    # broadcast join + survivor join into the checkpointed subtree —
    # the final plan keeps the span trim + split projection only. The
    # gate join and the one-scan guarantee are pinned by the
    # scans-per-table gate, which sees through checkpoints.
    "curation_v2_corpus": dict(max_shuffles=9, max_smj=4),
    # two windows + groupBy on the SAME keys: partitioning reused, one
    # shuffle end to end — the invariant this query exists to keep
    "daily_value_ohlc": dict(max_shuffles=1, max_smj=0, max_scan_width=4),
    # per-type stats broadcast back over the stream (floor pinned); the
    # one SMJ is the 5-row med x mad stats join
    "robust_value_outliers": dict(max_shuffles=4, min_bhj=2, max_smj=1),
    # DSIR: bucket-sized model (groupBy f) + one-row totals (evaluated
    # for the ratio AND the unseen-bucket fallback — both aggs are over
    # the 8192-row model, not the corpus), fitted ratio explicitly
    # broadcast back over the token stream (floor pinned), per-doc
    # rollup — the token stream itself never sort-merges
    "dsir_importance_weights": dict(max_shuffles=6, min_bhj=1, max_smj=0),
    # first-occurrence min-agg keyed like the postings join (exchange
    # reuse); the join may SMJ at scale (both sides corpus/vocab-sized)
    "doc_novelty_scores": dict(max_shuffles=3, max_smj=1),
    # deterministic JL projection and PCA broadcast-back scoring are
    # pure maps: ANY exchange means the decomposition stopped being
    # map-only (pca's Gram fold runs at build time as its own bounded
    # job, like the kmeans centroid collect)
    "jl_projection_docs": dict(max_shuffles=0, max_smj=0, max_scan_width=2),
    "pca_power_scores": dict(max_shuffles=0, max_smj=0, max_scan_width=2),
    # integer-sign bucket self-join: equi-keyed on the 8-bit bucket,
    # may SMJ at scale (both sides are the corpus)
    "jl_bucket_near_dups": dict(max_shuffles=2, max_smj=1, max_scan_width=2),
    # vocab fitted by grouped count + TakeOrdered, then broadcast back
    # (floor pinned) — the token stream itself never sort-merges
    "oov_rates_by_source": dict(max_shuffles=3, min_bhj=1, max_smj=0),
    # 3 unrolled message-passing rounds (join + grouped sum each) over
    # the graph-sized, localCheckpointed edge list — ceilings bound the
    # per-iteration cost from silently growing
    "dup_graph_pagerank": dict(max_shuffles=20, max_smj=6),
    # same 3 unrolled rounds + one per-source window for the degree cap
    # and one node-set-sized total-update join per round (the directed
    # capped graph can have zero-in-edge nodes); post-cap |E| <= 3|V|
    # bounds every iteration join
    "pagerank_degree_capped": dict(max_shuffles=25, max_smj=8),
    # per-row HOF entropy/TTR: any exchange means it stopped being a map
    "token_entropy_docs": dict(max_shuffles=0, max_smj=0, max_scan_width=2),
    # both component projections are map-only broadcast-backs (Gram +
    # deflation run at build time as bounded driver jobs)
    "pca_top2_scores": dict(max_shuffles=0, max_smj=0, max_scan_width=2),
    # two grid builds + grid-keyed estimate join + exact twin; the
    # final assembly is one-row x one-row BNLJs (allowlisted below)
    "cms_join_size": dict(max_shuffles=10, max_smj=2),
    # two sketch aggs + exact twins; assembly is one-row BNLJs
    "hll_key_overlap": dict(max_shuffles=10, max_smj=2),
    # one corpus-keyed grouped count; everything after is bounded by
    # segments x buckets (population hist broadcast, 20 rows)
    "psi_value_drift": dict(max_shuffles=6, min_bhj=1, max_smj=1),
    # tercile thresholds + broadcast bucket join over the CHECKPOINTED
    # scored frame (r8, same rationale as ccnet_ppl_buckets); the
    # repetition explode adds no exchange
    "curriculum_mix_docs": dict(max_shuffles=4, min_bhj=1, max_smj=1),
    # final-stage rollup only (clustering runs behind its checkpoint,
    # like dedup_corpus/leakage_safe_split): cluster-count-sized
    "dedup_cluster_stats": dict(max_shuffles=4, max_smj=1),
    # two window histograms + the bounded dense-frame comparison; the
    # checkpointed event stream scans once. +1 exchange since r6: the
    # in-plan bucket-count guard's projection sits between the two
    # histogram reads and costs one segments×buckets-sized reshuffle —
    # bounded, and worth the loud failure on a mismatched histogram
    "psi_time_drift": dict(max_shuffles=15, max_smj=4),
    # two grouped passes over one checkpointed scan + one-row assembly
    "corpus_datasheet": dict(max_shuffles=8, max_smj=0),
    # one classification pass + labels-sized rollup (totals broadcast)
    "lang_id_confusion": dict(max_shuffles=5, min_bhj=1, max_smj=1),
    # the packer's two-phase prefix sum (r7: bounded bucket windows +
    # tiny offset frame; r8: the counted frame is checkpointed — two
    # consumers — so no scan is visible in the final plan) + a
    # shard-count-sized rollup
    "shard_balance_report": dict(max_shuffles=6, max_smj=0),
    # the packer's two-phase prefix sum (see shard_balance_report) +
    # a per-row sequence explode
    "training_sequence_spans": dict(max_shuffles=5, max_smj=0),
    # build distinct + filter distinct + probe rollup + member check; the
    # filter table and member set BROADCAST (floor pinned) — the probe
    # corpus must never sort-merge against the fixed-size filter
    "bloom_ingest_screen": dict(max_shuffles=5, min_bhj=2, max_smj=0),
    # r17 decoder registry: two zero-shuffle split arms (decoders ride
    # the Arrow closure) union into ONE per-(registry,label) aggregate;
    # the synth grouping lives in the checkpointed subtree
    "crawl_decoder_registry": dict(max_shuffles=2, max_scan_width=2),
    # r17 redirect resolution: the bounded-hop chase is 3 chained
    # self-joins + the content probe — 4 SMJs over the REDIRECT-sized
    # edge frame (never corpus payloads), each with its two exchanges;
    # bounded by the 4-hop policy, not data size
    "crawl_redirect_resolution": dict(
        max_shuffles=9, max_smj=4, max_scan_width=2
    ),
    # r17 CDXJ artifact: shard pack/sort rides the checkpointed
    # subtree; final plan is the sortedness window's one exchange plus
    # broadcast joins ONLY (keys → parsed index → archives → flags)
    "cdxj_export_roundtrip": dict(
        max_shuffles=2, min_bhj=4, max_smj=0, max_scan_width=2
    ),
    # r17 revisit-aware dedup: two per-URL aggregates + one canonical-
    # key join (partitioning reused — 2 exchanges total measured);
    # extraction chars/digests computed BEFORE the shuffle
    "crawl_dedup_revisit": dict(
        max_shuffles=3, max_smj=1, max_scan_width=2
    ),
    # r17 request pairing: ONE record-id equi-join of id+string rows
    "warc_request_pairing": dict(
        max_shuffles=3, max_smj=1, max_scan_width=2
    ),
    # r17 recrawl priority: index→shard semi-join + listed↔fetched
    # join + the per-host rank window over the checkpointed records
    "sitemap_recrawl_priority": dict(
        max_shuffles=6, max_smj=2, max_scan_width=2
    ),
    # r17 alias crediting: the shared bounded chase (3 self-joins) +
    # one credit aggregate + one content join — redirect-sized frames
    "crawl_alias_crediting": dict(
        max_shuffles=9, max_smj=4, max_scan_width=2
    ),
}


# ---------------------------------------------------------------------------
# Formatted-plan parsing (r17, kept in r18). Shared subtrees are materialized
# with lazy ``localCheckpoint`` (see operators/materialize.py — r18 reverted
# the r17 ``persist()`` swap), so a consumer plan is truncated at a ``Scan
# ExistingRDD`` leaf and the counting below sees exactly the final-plan
# surface; the truncated subtrees are audited through the ``capture_subtrees``
# list. The parser still strips InMemoryTableScan/InMemoryRelation-nested
# blocks so any individually persisted frame keeps the same kept-scope
# semantics: unique operator ids OUTSIDE cache-nested blocks — the scope the
# r2–r16 checkpoint-truncated ``toString`` counting had, which is where every
# budget number in EXPECT was calibrated. ``explain("formatted")`` is the
# robust substrate: its operator tree is uniformly indented (raw ``toString``
# restarts indentation inside cached blocks), every operator carries a stable
# id, and a shared cached plan keeps ONE id across occurrences.
# ---------------------------------------------------------------------------

_TREE_NODE = re.compile(
    r"^([ :+\-*]*)([A-Za-z][\w]*(?:[ \w.,#\[\]=]*?)?)"
    r" \((\d+)\)(?:\s*\([^)]*\))*\s*$"
)
_DETAIL_HDR = re.compile(r"^\((\d+)\) (\S.*?)\s*$")


def fmt_plan(df) -> str:
    """``explain('formatted')`` text of a DataFrame, pre-execution."""
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _parse_fmt(txt: str) -> tuple[dict, dict]:
    """(kept, details) from a formatted plan:

    ``kept``: operator id -> node name for every tree node OUTSIDE
    InMemoryTableScan-nested blocks (cache-build plans excluded — they
    are audited once via the capture list), deduplicated by id (a reused
    subtree prints many times under one id).
    ``details``: operator id -> full detail block text (ALL ids)."""
    kept: dict[int, str] = {}
    details: dict[int, list[str]] = {}
    cur = None
    skip_deeper_than = None
    for line in txt.splitlines():
        m = _TREE_NODE.match(line)
        if m:
            cur = None
            depth = len(m.group(1))
            name, op_id = m.group(2), int(m.group(3))
            if skip_deeper_than is not None:
                if depth > skip_deeper_than:
                    continue
                skip_deeper_than = None
            if name.startswith(("InMemoryTableScan", "InMemoryRelation")):
                # cache leaf: the cached plan prints nested below, either
                # under an InMemoryTableScan or (inside AQE stages) under
                # a bare InMemoryRelation — skip it in both shapes
                skip_deeper_than = depth
                continue
            kept.setdefault(op_id, name)
            continue
        # non-tree lines (wrapped expression text, '== Final Plan ==' markers
        # inside an executed cache's block) do NOT end a cache block — only a
        # tree node at depth <= the cache leaf's depth does. A detail header
        # ends the tree section entirely.
        dm = _DETAIL_HDR.match(line)
        if dm:
            skip_deeper_than = None
            cur = int(dm.group(1))
            details.setdefault(cur, []).append(line)
        elif cur is not None:
            details[cur].append(line)
    return kept, {k: "\n".join(v) for k, v in details.items()}


_SHUFFLE_PART = re.compile(
    r"(hashpartitioning|rangepartitioning|SinglePartition)"
)


def _plan_features(txt: str) -> dict:
    """Kept-scope plan features of a formatted plan string (same keys and
    calibration scope as the r2–r16 toString-based counting)."""
    kept, details = _parse_fmt(txt)
    shuffles = sum(
        1
        for i, n in kept.items()
        if n == "Exchange" and _SHUFFLE_PART.search(details.get(i, ""))
    )
    scan_ids = [i for i, n in kept.items() if n.startswith("Scan parquet")]
    pushed = []
    widths = []
    for i in scan_ids:
        d = details.get(i, "")
        pm = re.search(r"PushedFilters: \[([^\]]*)\]", d)
        if pm:
            pushed.append(pm.group(1))
        sm = re.search(r"ReadSchema: struct<([^>\n]*)", d)
        if sm:
            widths.append(sm.group(1).count(":"))
    return {
        "shuffles": shuffles,
        "bhj": sum(1 for n in kept.values() if n.startswith("BroadcastHashJoin")),
        "smj": sum(1 for n in kept.values() if n.startswith("SortMergeJoin")),
        "pushed_nonempty": sum(1 for p in pushed if p.strip()),
        "n_pushed_slots": len(pushed),
        "scan_widths": widths,
    }


def _kept_names(txt: str) -> list[str]:
    """Kept-scope node names of a formatted plan (whole-catalog checks)."""
    kept, _ = _parse_fmt(txt)
    return list(kept.values())


def _kept_details(txt: str) -> str:
    """Concatenated detail blocks of kept-scope operators only."""
    kept, details = _parse_fmt(txt)
    return "\n".join(details.get(i, "") for i in kept)


@pytest.fixture(scope="module")
def gate_spark(spark):
    # GATE_CONFS: auto-broadcast off, and metadata strings untruncated —
    # the 100-char default cuts PushedFilters/ReadSchema mid-list, which
    # reads as "filter not pushed" / "narrower scan than real" (see
    # module docstring).
    saved = set_confs(spark, GATE_CONFS)
    yield spark
    set_confs(spark, saved)


# catalog_plans (tests/conftest.py, session-scoped): one build per
# catalog query for the WHOLE suite — the r17 gate rebuilt each builder
# per test (~680 invocations across this module's parametrized tests and
# three whole-catalog loops), which blew the driver's verify budget
# (VERIFY_r17, at 1814ba1 in git history: pytest truncated at 81%).
# Every check below is a pure function of the formatted plan string, so
# the shared cache feeds them all — identical audit surface.


@pytest.mark.parametrize("name", sorted(EXPECT))
def test_plan_invariants(catalog_plans, name):
    entry = catalog_plans[name]
    plan, subtrees = entry["plan"], entry["subtrees"]
    feats = _plan_features(plan)
    # scan-shaped checks (width, pushdown) must see THROUGH materialized
    # subtrees: a cached subtree's scans are excluded from kept scope, so
    # fold the captured subtree plans into those features only. Shuffle/
    # join ceilings stay final-plan-scoped — they were calibrated there,
    # and the scans-per-table gate owns cross-subtree execution counts.
    for s in subtrees:
        sub_feats = _plan_features(s)
        feats["scan_widths"].extend(sub_feats["scan_widths"])
        feats["pushed_nonempty"] += sub_feats["pushed_nonempty"]
        feats["n_pushed_slots"] += sub_feats["n_pushed_slots"]
    exp = EXPECT[name]
    if "max_shuffles" in exp:
        assert feats["shuffles"] <= exp["max_shuffles"], (name, feats)
    if "min_bhj" in exp:
        assert feats["bhj"] >= exp["min_bhj"], (
            f"{name}: explicit broadcast hint lost "
            f"(bhj={feats['bhj']} < {exp['min_bhj']})",
            feats,
        )
    if "max_smj" in exp:
        assert feats["smj"] <= exp["max_smj"], (name, feats)
    if exp.get("pushed"):
        assert feats["pushed_nonempty"] >= 1, (
            f"{name}: no parquet filter pushed down",
            feats,
        )
    if "max_scan_width" in exp:
        assert feats["scan_widths"], (name, "no parquet scans found")
        assert max(feats["scan_widths"]) <= exp["max_scan_width"], (
            f"{name}: scan reads more columns than the query needs "
            f"(column pruning regressed)",
            feats,
        )


# ---------------------------------------------------------------------------
# Scans-per-table gate (VERDICT r7 #2): a checkpointed shared subtree
# truncates the consumer's visible plan, so the shuffle/scan ceilings above
# can't see it. checkpoint_tracked records every pre-checkpoint subtree;
# this gate unions the final plan with those subtree plans and asserts each
# source table is scanned AT MOST this many times per executed query —
# checkpoint semantics guarantee each subtree executes once, so the static
# union IS the executed scan count. This is the pin for "the shared
# scoring/ivf subtree runs once" (r7 shipped the claim without the pin and
# the executed plans re-scanned embeddings ~12x).
# NOTE r14: the crawl-ingest chain (warc_ingest_stats /
# html_extract_docs / crawl_curation_chain) has no checkpointed subtree
# — documents are scanned once IN-PLAN (pinned by EXPECT's
# max_scan_width + the single-Exchange ceilings above), so it does not
# belong in this gate (which asserts a capture exists).
MAX_SCANS_PER_TABLE = {
    "robots_compliance_audit": 1,  # r14: checkpointed response table
                                   # serves rules, pages and totals
    "crawl_domain_caps": 1,       # r14: checkpointed fetch table serves
                                  # both the cap chain and the totals agg
    "crawl_multimodal_stats": 1,  # r14: documents feed the archive synth
                                  # once; the checkpointed record table
                                  # serves all three modality consumers
    "interleaved_mm_spans": 2,  # r14: one scan per modality side (text
                                # tokens + the synth/decode chain) into
                                # the checkpointed join; the union and
                                # the packer's stats agg read the
                                # checkpoint, never documents
    "lm_bigram_scores": 1,
    "ccnet_ppl_buckets": 1,
    "curriculum_mix_docs": 1,
    "curation_v2_corpus": 2,       # LM subtree + the checkpointed gated
                                   # frame (r11: both trim consumers —
                                   # shingling AND reconstruct — read the
                                   # checkpoint; docs never re-scanned)
    "mutual_knn_pairs": 2,         # corpus + the %61 codebook slice
    "knn_label_disagreement": 2,   # corpus + the codebook slice
    "token_budget_shards": 2,      # narrow build-time stats agg + counted frame
    "training_sequence_spans": 2,
    "shard_balance_report": 2,
    "retrieval_trained_search": 2,  # chunk+embed checkpoint feeds k-means
                                    # (iters+1 passes) AND ivf_topk (x2);
                                    # the 3-query probe side re-scans once
    "pq_adc_topk": 1,           # the cast-to-double checkpoint feeds PQ
                                # train (iters passes), assign, queries
    "ivf_pq_search": 1,         # the unit-vector checkpoint feeds coarse
                                # k-means, ivf_assign, PQ train/assign,
                                # queries AND the re-rank vector table
    "residual_pq_search": 1,    # same checkpoint + the residual frame
                                # derived from it (no extra parquet scan)
    "maxsim_late_interaction": 1,  # chunk+embed checkpoint feeds both
                                   # the corpus and query-chunk sides
    "mrl_truncated_search": 1,  # cast checkpoint feeds prefix pass,
                                # re-rank join and the query frame
    "sq_int8_search": 1,        # cast checkpoint feeds grid train (one
                                # agg), encode and the query frame
    "bq_hamming_search": 1,     # cast checkpoint feeds threshold train,
                                # both encodes and the re-rank floats
    "quality_probe_distill": 1,  # feature+label checkpoint feeds the
                                 # stats agg, 16 GD steps and scoring
    "training_shard_export": 1,  # r15: the tokenized-base checkpoint
                                 # feeds the vocab agg, the prefix-scan
                                 # stats job AND the position explode —
                                 # documents parquet scans once
    "host_link_pagerank": 1,     # r15: the aggregated edge checkpoint
                                 # (inside pagerank_directed) feeds
                                 # out_w + the normalization join —
                                 # the synth+split chain runs once
    "cdx_index_coverage": 1,     # r15: the checkpointed synth output
                                 # feeds the index build AND the
                                 # byte-length check — documents scans
                                 # once
    "warc_revisit_resolution": 2,  # r16: the checkpointed record table
                                   # feeds the revisit AND response
                                   # sides; documents scans in the
                                   # synth staging union (base + dup)
    "sitemap_coverage_audit": 1,  # r16: the checkpointed record table
                                  # feeds the sitemap AND page sides;
                                  # documents scans once (synth)
    "cdx_surt_lookup": 2,        # r16: the checkpointed archive blobs
                                 # feed the index build AND the ranged
                                 # fetch; documents scans for synth +
                                 # the lookup key set
    "training_shard_export_bpe": 2,  # r16: the checkpointed bpe_apply
                                     # output feeds the shard stream +
                                     # the apply-side stats; documents
                                     # scans for apply + the pretoken
                                     # stats (the bpe_train wc pass is
                                     # a build-time model collect)
    "maxsim_pruned_search": 1,   # chunk+embed checkpoint feeds cell
                                 # assignment, the corpus side and the
                                 # query-chunk frame
}


def _count_scans(plan: str) -> dict[str, int]:
    """Distinct parquet scan OPERATORS per source table in a formatted
    plan, kept-scope (cache-build plans excluded — each cached subtree is
    a separate entry in the plans list, so its scans count exactly
    once)."""
    kept, details = _parse_fmt(plan)
    out: dict[str, int] = {}
    for i, n in kept.items():
        if not n.startswith("Scan parquet"):
            continue
        m = re.search(r"([^/\[\] ,]+)\.parquet", details.get(i, ""))
        if m:
            out[m.group(1)] = out.get(m.group(1), 0) + 1
    return out


@pytest.mark.parametrize("name", sorted(MAX_SCANS_PER_TABLE))
def test_scans_per_table(catalog_plans, name):
    entry = catalog_plans[name]
    subtrees = entry["subtrees"]
    totals: dict[str, int] = {}
    plans = [entry["plan"]] + subtrees
    for plan in plans:
        for table, n in _count_scans(plan).items():
            totals[table] = totals.get(table, 0) + n
    assert subtrees, (
        f"{name}: no checkpointed subtree captured — the shared-subtree "
        "materialization this gate pins was removed"
    )
    cap = MAX_SCANS_PER_TABLE[name]
    assert totals and max(totals.values()) <= cap, (name, totals)


def test_gate_detects_lost_broadcast_hint(gate_spark):
    """Tripwire: the min_bhj bound actually discriminates.

    Rebuild q5's join tree WITHOUT the region/nation ``F.broadcast`` hints
    and assert the plan falls below the gate's ``min_bhj=2`` floor — i.e. a
    refactor that drops the hints would turn the gate red, which is the
    whole point of pinning it (VERDICT r3 item 1's done-criterion).
    """
    from pyspark.sql import functions as F

    from shopify_etl_spark.plans.catalog import load_table

    spark = gate_spark
    region = load_table(spark, SF_DIR, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, SF_DIR, "nation")
    cust = load_table(spark, SF_DIR, "customer")
    sup = load_table(spark, SF_DIR, "supplier")
    orders = load_table(spark, SF_DIR, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, SF_DIR, "lineitem")
    unhinted = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(sup, (li.l_suppkey == sup.s_suppkey) & (cust.c_nationkey == sup.s_nationkey))
        .join(nation, sup.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )
    feats = _plan_features(fmt_plan(unhinted))
    assert feats["bhj"] < EXPECT["q5_region_revenue"]["min_bhj"], (
        "hint removal was NOT detectable — gate has no teeth",
        feats,
    )


# Queries where a BroadcastNestedLoopJoin is the INTENDED plan: the
# broadcast side is provably tiny at any SF (one-row corpus stats, k
# centroids, a handful of query vectors) and the join is a deliberate
# broadcast cross join. Anything else sprouting a BNLJ — or ANY query
# sprouting a CartesianProduct — is a 100 TB scale killer and fails here.
BNLJ_ALLOWED = {
    "ann_cosine_topk",      # query vectors broadcast over the corpus
    "retrieval_index_manifest",  # 8-row ±1 codebook broadcast over chunks
    "retrieval_chunk_search",    # codebook broadcast: cell assign + probes
    "retrieval_trained_search",  # 8 TRAINED centroids broadcast, same shape
    "embedding_outlier_screen",  # %61 codebook broadcast (behind checkpoint)
    "ivf_assignments",      # k centroids broadcast
    "ivf_ann_topk",         # centroids + query vectors
    "trained_ivf_topk",     # k trained centroids + query vectors
    "bm25_search_topk",     # one-row corpus stats
    "pmi_collocations",     # one-row corpus totals
    "cms_token_counts",     # one-row total-token count for the error bound
    "cms_heavy_hitters",    # one-row total-token count for the error bound
    "bm25_champion_lists",  # one-row corpus stats (and their reused scan)
    "lm_bigram_scores",     # one-row vocabulary size
    "source_mixture_weights",  # one-row normalizer
    "hard_negative_pairs",     # one-row corpus stats via bm25_index
    "ccnet_ppl_buckets",       # one-row vocabulary size (bigram LM)
    "hybrid_rrf_topk",         # query vectors broadcast (dense ranker)
    "curation_v2_corpus",      # one-row vocabulary size (bigram LM gate)
    "dsir_importance_weights",  # one-row token totals under the model fit
    "dup_graph_pagerank",       # one-row node count (teleport term, x4 steps)
    "pagerank_degree_capped",   # one-row node count (teleport term, x4 steps)
    "host_link_pagerank",       # one-row node count (pagerank_directed,
    #   x(iters+1) steps over the host-bounded edge frame)
    "lsh_ann_topk",             # query vectors broadcast (exact-top-1 twin)
    "cms_join_size",            # one-row totals/truth/estimate assembly
    "hll_key_overlap",          # one-row sketch/truth assembly
    "psi_value_drift",          # 20-row bucket frame + one-row total
    "curriculum_mix_docs",      # one-row vocabulary size (bigram LM gate)
    "dedup_cluster_stats",      # one-row corpus total under the histogram
    "psi_time_drift",           # one-row ts bounds + 20-row bucket frames
    "corpus_datasheet",         # one-row vocab/dup/total assembly
    # r7 audit (VERDICT r6 §wrong #2): the three queries below were
    # shipped in catalog_ext4 without this audit — verified now.
    "tfidf_top_terms",          # one-row n_docs crossJoin (text.py::tfidf_top_terms)
    "token_js_divergence",      # one-row corpus-token total n_g (stats.py:283)
    "knn_label_disagreement",   # ivf_assign's sqrt(n)-codebook broadcast; the
    #   assign subtree feeds BOTH pair sides a/b, so the same bounded
    #   centroid BNLJ appears twice in the physical plan
    "mutual_knn_pairs",         # r7 IVF-cell re-block (VERDICT r6 #4):
    #   same ivf_assign codebook broadcast, twice via the a/b pair sides
    # r13 PQ retrieval family: 8-row query frames / 8-row centroid
    # frames broadcast over the corpus — the deliberate ann_cosine_topk
    # shape; the candidate CELL join itself is a broadcast HASH join
    "pq_adc_topk",              # broadcast ADC-table frame (8 queries)
    "ivf_pq_search",            # trained 8-cell codebook + probe tables
    "residual_pq_search",       # same, tables per (query, probed cell)
    "maxsim_late_interaction",  # 3 query docs' chunk vectors broadcast
    "mrl_truncated_search",     # 8-query frame broadcast, both passes
    "maxsim_pruned_search",     # query-chunk x 8-cell codebook probe
    #   (tiny both sides); the corpus-side candidate join is a
    #   broadcast HASH join on the cell key
    "opq_balanced_pq",          # 8-row ADC-table / query frames broadcast
    #   over both PQ layouts + the exact-truth cross-score (the
    #   ann_cosine_topk shape, three bounded instances)
    "sq_int8_search",           # 8-row float query frame broadcast
    "bq_hamming_search",        # 8-row packed query frame broadcast;
    #   the re-rank float join is a broadcast HASH join on the 160-row
    #   shortlist
}


def test_no_cartesian_or_unplanned_nested_loop_anywhere(catalog_plans):
    """Whole-catalog plan hygiene: every registered query must plan
    without a CartesianProduct, and without a BroadcastNestedLoopJoin
    outside the allowlist above (VERDICT r3 confirmed the allowlisted
    crossJoins broadcast provably tiny sides — this pins that audit)."""
    offenders = {}
    for name, entry in catalog_plans.items():
        names = _kept_names(entry["plan"])
        cp = sum(1 for n in names if n.startswith("CartesianProduct"))
        bnlj = sum(
            1 for n in names if n.startswith("BroadcastNestedLoopJoin")
        )
        if cp or (bnlj and name not in BNLJ_ALLOWED):
            offenders[name] = {"cartesian": cp, "bnlj": bnlj}
    assert not offenders, offenders


def test_no_row_python_udfs_anywhere(catalog_plans):
    """Whole-catalog: no BatchEvalPython (row-at-a-time Python UDF — the
    ~10-100x slow path) in any registered query's plan. Python may touch
    data only through Arrow-batched operators (ArrowEvalPython pandas
    UDFs, MapInPandas/FlatMapGroupsInPandas), which appear under
    different plan nodes and stay allowed. Pins the zero-row-UDF claim
    the round-3 verdict verified by hand."""
    offenders = {}
    for name, entry in catalog_plans.items():
        names = _kept_names(entry["plan"])
        n = sum(1 for x in names if x.startswith("BatchEvalPython"))
        if n:
            offenders[name] = n
    assert not offenders, offenders


# Corpus group columns with unbounded skew potential: ONE language or
# source can be most of a 100 TB corpus, so a window partitioned by them
# total-sorts that majority inside a single task — the ntile-over-lang
# scale-killer VERDICT r6 flagged (fixed via text.tercile_thresholds).
# A query may window over these keys ONLY when the windowed frame is
# already aggregate-bounded (vocab/value-domain-sized, not corpus-sized)
# and is audited here.
SKEW_WINDOW_ALLOWED = {
    "zipf_law_fit",  # row_number over the per-source VOCABULARY-sized
    #   term-frequency table (Heaps' law bounded), not over documents
    "token_budget_shards",      # prefix-sum offset window over the
    #   (bucket, source) TOTALS frame — one row per 64Ki-doc bucket,
    #   never over documents (operators/packing.py::_prefix_start)
    "training_sequence_spans",  # same bucket-totals offset window
    "shard_balance_report",     # same (composes pack_shards)
    "interleaved_mm_spans",     # same packer machinery (pack_interleaved
    #   → _prefix_start): the source-keyed window runs over the
    #   per-(bucket, source) TOTALS frame — one row per 64Ki-segment
    #   bucket, never over documents
    "training_shard_export",    # same _prefix_start bucket-totals
    #   offset window; the other window (vocab row_number) runs over
    #   the 256-row LIMIT'd vocabulary, not a corpus key
}


def test_no_window_over_skewed_corpus_keys(catalog_plans):
    """Whole-catalog: no window function partitioned SOLELY by a
    skew-prone corpus key (lang, source) outside the audited allowlist.
    Would have caught the r6 ntile(3)-over-lang plans in
    ccnet_ppl_buckets / curation_v2_corpus / curriculum_mix_docs at
    commit time. A window keyed by (bucket, source) is fine — the extra
    partition key bounds the frame — so the pattern requires lang/source
    as the FIRST argument immediately followed by a sort spec (i.e. the
    only partition key)."""
    import re

    pat = re.compile(
        r"windowspecdefinition\((?:lang|source)#\d+L?, \S+#\d+L? (?:ASC|DESC)"
    )
    offenders = {}
    for name, entry in catalog_plans.items():
        plan = _kept_details(entry["plan"])
        hits = len(pat.findall(plan))
        if hits and name not in SKEW_WINDOW_ALLOWED:
            offenders[name] = hits
    assert not offenders, offenders
