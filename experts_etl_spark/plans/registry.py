"""Merged query/oracle registry across all packs.

THE ORDER HERE IS PROOF COVERAGE: the driver's CORRECTNESS gate
verifies only the FIRST 50 registered queries (observed in round 1 —
CORRECTNESS_r01.json had exactly 50 entries while 77 were registered,
leaving the whole LLM pack unproven).  ``GATE_ORDER`` is therefore a
curated priority list: 50 queries chosen so that every SURVEY.md §2
operator AND every LLM-pipeline component has at least one
oracle-backed row inside the gate window (COVERAGE.md maps operators
to their gated proof query).  Everything registered after the window
keeps its local pytest/oracle parity but no driver row — variants,
baselines, and queries whose operators are already proven by a denser
gated query.
"""

from __future__ import annotations

from experts_etl_spark.llm import queries as llm_queries
from experts_etl_spark.plans import reference_queries

_ALL_QUERIES: dict = {}
_ALL_ORACLES: dict[str, str] = {}
for mod in (reference_queries, llm_queries):
    _ALL_QUERIES.update(mod.QUERIES)
    _ALL_ORACLES.update(mod.ORACLES)

# The 50 gated slots — ROTATED in round 8 (VERDICT r7 item 2, open
# since r6).  Swapped IN the five queries that had never earned a
# driver row: dedup_ngram_jaccard (REWRITTEN r7 to the AllPairs/PPJoin
# prefix filter — its only prior row was r2-vintage against a
# twice-superseded oracle), dedup_ngram_jaccard_exact (the pinned
# naive baseline it must equal), ann_ivf_kmeans_sampled,
# dedup_lsh_recall_sampled, training_dedup_leakage_sampled (the three
# sampled 100 TB scale paths).  Retired to make room — each retiree's
# operators stay proven by a denser still-gated query, and all keep
# local sf0.001 parity via tests/test_oracle_parity.py (ALL registered
# queries, gated or not):
#   ann_topk_bucketed / ann_topk_ivf  → ann_recall gates the same
#     bucketed_ann_topk / ivf_topk code paths on identical probes;
#   ann_topk_ivf_refined → superseded baseline (r7 verdict); the
#     trained-quantizer search is gated via ann_topk_ivf2_refined and
#     full Lloyd training via ann_ivf_kmeans (train_mod="full" pinned
#     round 8);
#   dedup_minhash_lsh → the banded-LSH join is gated four ways:
#     dedup_lsh_recall (same miner vs exact truth),
#     dedup_incremental_ingest, dedup_cluster_resolution_lsh,
#     training_corpus_pipeline (LSH-default funnel);
#   person_sync_xml → F14/S7 stay gated via person_cycle_xml (the
#     denser composite over the same renderer + sink).
# With this window the r02-r09 union gives every registered query a
# driver row against its CURRENT oracle — the r7 verdict's
# gate-hygiene invariant, now mechanically enforced by
# tools/gate_hygiene.py — except the five documented
# ungated-by-design entries (gate_hygiene.UNGATED_BY_DESIGN):
# encode_token_ids_arrays (driver cannot canonicalize array columns;
# ids_str twin gated), training_dedup_leakage_sampled_p8 and
# dedup_lsh_recall_sampled_p8 (sampling-constant template twins of
# their gated p=1/2 / p=1/3 queries), dedup_exact_substrings_w10
# (window-width template twin of the gated w=5 query), and
# ann_pq_codes_incremental (composition of the gated ann_pq_codes
# train/encode paths over disjoint halves).  ann_pq_recon_error —
# previously on this list — is GATED as of round 9 (the r8 ADVICE
# option taken: its per-row error arithmetic now earns a driver row;
# ann_topk_pq_adc rotates out to make room — the flat-ADC search it
# anchored runs verbatim inside the gated ann_recall_pq's pq_adc arm,
# and the PQ train/encode underneath stays gated via ann_pq_codes).
# All five keep local sf0.001 parity every pytest run plus the full
# sf0.01/sf0.1 sweeps.
GATE_ORDER = [
    # --- round-4 additions, kept gated --------------------------------
    "tfidf_topk_terms",
    "sequence_packing",
    "pii_redaction",
    "training_corpus_pipeline",  # round-6 LSH-default funnel miner
    "corpus_token_stats",
    "dedup_incremental_ingest",
    "dedup_lsh_recall",          # r9: truth join now prefix-filter-mined
    "vocab_topk",                # global_positions path
    "encode_token_ids",          # round-6 ids_str hashable projection
    # --- round-5/6 queries ---------------------------------------------
    "training_dedup_leakage",    # funnel audit (now over LSH-mined kept)
    "dedup_cluster_resolution_lsh",  # CC loop over the LSH miner
    # --- ANN pack -------------------------------------------------------
    "ann_ivf_kmeans",
    "ann_ivf_kmeans_sampled",     # r8: first driver row (sampled training)
    "ann_recall",
    # --- round-8 rotation: first driver rows ---------------------------
    "dedup_lsh_recall_sampled",      # r9: prefix-mined in-sample truth
    "training_dedup_leakage_sampled",  # Horvitz-Thompson sampled audit
    # --- round-9 rotation ----------------------------------------------
    # IN: the three NEW r9 queries (gated on arrival per the hygiene
    # invariant) and three stale r7-or-older rows proactively refreshed
    # (r8 verdict item 8): dedup_simhash (r2-vintage miner),
    # dedup_winnow (r6 max_df cap), text_quality_metrics (r2 pack
    # anchor).  OUT — every retiree keeps its fresh green r8 row
    # against an UNCHANGED query+oracle, so the r2-r9 union invariant
    # holds: ann_topk_ivf2 (stride two-level assignment now also gated
    # through ann_topk_ivfpq's coarse stage; the trained variant stays
    # gated), dedup_ngram_jaccard_exact (pinned equal to the gated
    # prefix query by property test; the naive truth formulation is
    # also re-proven by dedup_lsh_recall's oracle on every driver run),
    # dedup_cluster_resolution (the CC resolution loop stays gated via
    # dedup_cluster_resolution_lsh; the exact miner via
    # dedup_ngram_jaccard), epoch_shuffle + multimodal_dedup
    # (global_positions gated via vocab_topk; hash-groupBy dedup via
    # curation_stream_routing and the funnel),
    # embedding_near_dup_bucketed (the SRP-blocked pair stage is
    # replayed verbatim inside BOTH gated SemDeDup oracles —
    # embedding_semantic_dedup and the new _seq — so the blocked pair
    # set stays hash-proven twice over), and ann_topk_ivf2_refined
    # (its trained quantizer + nested-super two-level search is the
    # coarse stage of the gated ann_topk_ivfpq_refined, which composes
    # the same kmeans_refined_centroids through the same assignment;
    # the PQ-free refined search keeps its fresh green r8 row and
    # local parity).
    "ann_recall_pq",             # NEW r9: PQ/IVFADC recall@3 honesty
    "ann_topk_ivfpq_refined",    # NEW r9: IVFADC over trained cells
    "embedding_semantic_dedup_seq",  # NEW r9: exact sequential greedy
    "dedup_exact_substrings",    # NEW r9: unaligned ExactSubstr windows
    "dedup_exact_substrings_incremental",  # NEW r10: hot-window store
    #   ingest (gated on arrival; swap-out: dedup_simhash — rotated in
    #   r9, fresh green r9 row, unchanged this round, miner keeps
    #   local sf0.001 parity every pytest run)
    "embedding_semantic_dedup_incremental",  # NEW r10: kept-embedding
    #   store ingest (gated on arrival; swap-out: dedup_winnow —
    #   rotated in r9, fresh green r9 row, unchanged this round)
    # --- round-10 rotation: the five STALEST rows (r2-vintage driver
    # rows, r9 verdict item 6) rotate back in.  OUT — every retiree
    # keeps its fresh green r9 row against an UNCHANGED query+oracle,
    # so the r2-r10 union invariant holds: text_quality_metrics (the
    # quality expression stays gated via training_corpus_pipeline's
    # quality gate and curation_stream_routing), employee_jobs_transform
    # (the W2/W3/W4/W6 window chain keeps its 18-fixture golden parity
    # locally; stint/run-length shapes also exercised inside the gated
    # person_assembly_cycle + cdc_compaction windows),
    # set_reconciliation (X3/J8 explode-join also runs inside the
    # gated pub_cycle's child-set overwrite), error_counters (A7/F9
    # upsert arithmetic unchanged since r2, fresh r9 row),
    # multi_format_dates (F1/F2/P6 parse matrix pinned by
    # tests/test_timestamp_matrix.py every pytest run).
    # --- round-11 rotation ----------------------------------------------
    # IN: the three NEW/CHANGED r11 queries (gated on arrival:
    # curation_tick_pipeline — the composed incremental tick;
    # ann_recall_sampled — the p=1/4 SRP re-audit; ann_topk_pq_adc —
    # its body+oracle changed with the self-scaled PQ write knobs and
    # it was ungated, so it rotates back in) and the five STALEST rows
    # (r3-vintage driver rows, r10 verdict item 5).  OUT — every
    # retiree keeps its fresh green r10 row against an UNCHANGED
    # query+oracle, so the r2-r11 union invariant holds: the five r10
    # rotation singles (locale_pick, scalar_pack, json_parse_roundtrip,
    # required_fields_gate, type_whitelist — refreshed r10, operators
    # P3-P8/F7/F8/F10/S6/F13 unchanged since r2) and three r4-pack
    # rows refreshed r10 (train_val_split, benchmark_contamination,
    # domain_mixture_sample — split/contamination/mixture logic also
    # exercised inside the gated training_corpus_pipeline funnel and
    # training_dedup_leakage audits).
    "curation_tick_pipeline",    # NEW r11: composed incremental tick
    "ann_recall_sampled",        # NEW r11: p=1/4 SRP recall re-audit
    # --- round-12 rotation ----------------------------------------------
    # IN: five of the thirteen r3-vintage rows (r11 verdict item 5).
    # embedding_near_dup is deliberately among them: bucketed_cross_hits
    # grew a precomputed-bucket arm this round, so the SRP-blocked pair
    # stage earns a fresh driver row alongside the two gated SemDeDup
    # composites that exercise the changed helper directly
    # (embedding_semantic_dedup_incremental, curation_tick_pipeline —
    # both still in-window).  The six PQ-oracle queries whose SQL
    # changed this round (generate_subscripts centroid update, r11
    # ADVICE) were already all in-window: ann_pq_codes,
    # ann_pq_recon_error, ann_topk_pq_adc, ann_topk_ivfpq,
    # ann_topk_ivfpq_refined, ann_recall_pq.  OUT — the five r11
    # rotation singles (pricing_summary, latest_event_per_user,
    # dedupe_keep_best, reference_entry_selection, multiset_except):
    # each keeps its fresh green r11 row against an UNCHANGED
    # query+oracle, so the r2-r12 union invariant holds.
    # --- round-13 rotation ----------------------------------------------
    # IN: the NEW r13 query (gated on arrival per the hygiene
    # invariant: curation_tick_selfmaint — both store-maintenance arms
    # crossed in one oracle-pinned path, r12 verdict next #5) and the
    # EIGHT remaining r3-vintage rows (r12 verdict next #1 — this
    # clears the staleness tail completely: after r13 every gated row
    # is ≤ 9 rounds old).  OUT — every retiree keeps its fresh green
    # r12 row against an UNCHANGED query+oracle, so the r2-r13 union
    # invariant holds: the five r12 rotation singles
    # (embedding_near_dup — the SRP pair stage stays driver-run inside
    # the two gated SemDeDup composites and the new selfmaint row;
    # identity_assembly; state_fanout_pivot — F12 also inside the
    # gated pub_cycle; snapshot_delta; pure_user_sync_xml — S7/F14
    # stay gated via person_cycle_xml) and four r12-refreshed
    # composites whose operators keep in-window proof elsewhere:
    # existence_gates (J6 via pub_cycle; J9/C6 unchanged since r2),
    # merge_upsert_freshness (C5 via cdc_end_to_end, still gated),
    # person_360 (§3.2 assembly via person_assembly_cycle, still
    # gated), primary_event_election (W8 via person_assembly_cycle;
    # A9 unchanged since r2).
    "curation_tick_selfmaint",   # NEW r13: SRP re-bucket + PQ rebuild arms
    # --- round-15 rotation (WINDOW NOW FROZEN) ---------------------------
    # The r14 rotation (inherited mid-BUILD commit b6881f0) swapped the
    # twelve r4-vintage union rows IN and twelve r13-fresh rows OUT —
    # which the r14 optimization-round verdict read as "12 queries
    # dropped from the driver's correctness view" even though nothing
    # broke.  r15 completes the exchange: the twelve r14 retirees
    # rotate BACK IN (each regains a fresh driver row this round), and
    # the twelve r14 arrivals rotate out — each now holds its fresh
    # green r14 driver row (CORRECTNESS_r14.json: all twelve green)
    # against an UNCHANGED query+oracle, so the r2-r15 union invariant
    # holds: customers_per_nation, event_run_groups, stint_splitting,
    # job_end_dates, visibility_rollup, snapshot_new_keys,
    # snapshot_changed_rows, cdc_watermark, cdc_new_versions,
    # gate_passed, gate_deferred, json_document_parse (all r2-r4-era
    # operators untouched since, with W2/W4 also gated via
    # person_assembly_cycle, X1/X2/C1-C2 via cdc_end_to_end +
    # cdc_compaction, J6/C6 via pub_cycle, S6/F13 local parity).
    # Two of the returning twelve are exactly the queries whose
    # HELPERS the r15 optimization touches, so they re-earn driver
    # rows against the optimized code: dedup_ngram_jaccard
    # (ngram_jaccard_pairs_prefix gained shared-materialization) and
    # ann_topk_pq_adc (pq_adc_topk gained count-sharing).
    #
    # FREEZE (r14 verdict item 1a): GATE_ORDER must NOT rotate during
    # optimization rounds — every rotation reads as "N dropped" in the
    # round-over-round correctness diff regardless of actual health.
    # Next BUILD round may rotate again; optimization rounds may not.
    #
    # One exception, forced by the gate-hygiene invariant (a query whose
    # body changed since the last snapshot commit must be gated): the
    # sync-cycle cost cut rebuilt the three jobs transforms' dims as SQL
    # VALUES, changing employee_jobs_transform, poi_jobs_transform and
    # affiliate_jobs_transform.  They rotate IN; OUT go three unchanged
    # r15 returnees whose operators stay gated inside other rows:
    # dim_lookup_quarantine (J1 lookup + quarantine branch runs in all
    # three jobs transforms), association_resolution_veto (J7) and
    # overwrite_child_sets (M5), both inside the gated pub_cycle.
    "employee_jobs_transform",    # changed: JVM-local dims
    "poi_jobs_transform",         # changed: JVM-local dims
    "affiliate_jobs_transform",   # changed: JVM-local dims
    "ann_topk_pq_adc",            # returning: fresh row vs optimized PQ path
    "buffer_archival",            # returning (S8 M3 M9)
    "cascade_delete_children",    # returning (P2 M6)
    "curation_stream_routing",    # returning (routing chain)
    "dedup_ngram_jaccard",        # returning: fresh row vs optimized miner
    "enrichment_left_join",       # returning (J4)
    "merged_uuid_cleanup",        # returning (M7)
    "owner_reassignment",         # returning (M8)
    "repetition_metrics",         # returning (Gopher expression)
    # --- retained heavyweight composites (green r2-r4) -----------------
    "cdc_end_to_end",           # §3.3 composite: C1-C5 A1 A3
    "person_cycle_xml",         # F14 S7 + §3.2+§3.4 composite
    "tree_nested_set",          # G1 G2 G3 J10 (composes tree_closure)
    "person_assembly_cycle",    # §3.2 assembly
    "pub_cycle",                # pub transformer: P7 J6 J7 J8 M5 F11 F12
    "skew_tolerant_counts",     # salting / two-stage agg
    "user_sessions",            # sessionize over events (bench headline)
    # corpus_curation & multimodal_metadata retired (green r4),
    # span_dedup & stratified_sample retired (green r5),
    # person_sync_xml, dedup_minhash_lsh, ann_topk_bucketed,
    # ann_topk_ivf, ann_topk_ivf_refined retired (green r7, see header)
    # — components covered by denser gated queries; all keep local parity
    # --- round-8 additions: product quantization (llm/pq.py) -----------
    # NEW queries, gated on arrival per the gate-hygiene invariant
    # (tools/gate_hygiene.py).  Swapped out to make room: dedup_exact
    # (exact-dedup groupBy is also gated inside curation_stream_routing's
    # fingerprint store and the corpus funnel) and text_quality_metrics
    # (the same quality expression gates via training_corpus_pipeline's
    # quality gate and curation_stream_routing); both keep fresh r7
    # driver rows and local parity.
    "ann_pq_codes",              # PQ train+encode, hash-pinned
    "ann_pq_recon_error",        # r9: recon-error audit gated (ADVICE);
                                 # flat-ADC search stays driver-run via
                                 # ann_recall_pq's pq_adc arm
    "ann_topk_ivfpq",            # IVFADC: residual codebooks + celldot
    "embedding_semantic_dedup",  # SemDeDup greedy ε-ball resolution
    # (third/fourth swap-outs: dedup_simhash and dedup_winnow —
    #  unchanged since r2/r6, fresh r7 rows; both miners keep local
    #  sf0.001 parity every pytest run)
    "cdc_compaction",           # C3 C4 W7
    "override_coalesce",        # J2 J3
]
assert len(GATE_ORDER) == 50, len(GATE_ORDER)
_missing = [n for n in GATE_ORDER if n not in _ALL_QUERIES]
assert not _missing, f"GATE_ORDER names unknown queries: {_missing}"
_ungated_no_oracle = [n for n in GATE_ORDER if n not in _ALL_ORACLES]
assert not _ungated_no_oracle, (
    f"every gated query needs an oracle, missing: {_ungated_no_oracle}"
)

QUERIES: dict = {n: _ALL_QUERIES[n] for n in GATE_ORDER}
QUERIES.update({n: f for n, f in _ALL_QUERIES.items() if n not in QUERIES})
ORACLES: dict[str, str] = {n: _ALL_ORACLES[n] for n in GATE_ORDER}
ORACLES.update({n: s for n, s in _ALL_ORACLES.items() if n not in ORACLES})
