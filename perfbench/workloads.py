"""Workload definitions: pinned query lists, dataset sizes, layouts.

The query lists are stored here, not read from the registry, so a
later registration never changes a workload; a pinned name missing from
the registry counts as a failed operation.
"""

from __future__ import annotations

#: ``--seed`` picks one of ``DATA_VARIANTS`` generated datasets per
#: workload (generator seed ``DATA_SEED + seed % DATA_VARIANTS``) and
#: deals the ingest documents into chunks. Variants are generated, and
#: their layouts built, once per checkout and then reused, so a run
#: pays only freshness checks. Operations run in the pinned order: in
#: a cold process the first queries also pay for shared memo builds
#: and class loading, and a shuffled order moved that cost between
#: queries from run to run.
DATA_SEED = 4225
DATA_VARIANTS = 2

#: Drawn once from the 34 registered operator modules: one query per
#: module with ``random.Random(0)`` (modules sorted by name). The pass
#: keeps the three reference-golden ``wordcount`` queries, and the
#: queries of that draw that run Python workers (pandas grouped-agg
#: UDF, UDTF, cogrouped map, mapInArrow, Python data source) or read a
#: derived layout (bucketed table, day partitions, IVF-PQ index,
#: shingle postings): twelve queries, what one cold pass fits.
CATALOG = (
    "word_count",
    "topk_common_words_max",
    "topk_common_words_min",
    "source_trimmed_stats_pandas",
    "doc_sentences_udtf",
    "order_fill_gap_cogroup",
    "media_byte_features_arrow",
    "pyds_scan_rollup",
    "bucketed_segment_revenue",
    "events_partition_pruned_day",
    "ivf_pq_index_probe",
    "eval_bloom_decon_audit",
)

#: The five streaming index maintainers the ingest workload drives.
MAINTAINERS = (
    "corpus_dedup",
    "shingle_postings",
    "token_counts",
    "byte_shingles",
    "ngram5_postings",
)

#: Every derived-layout builder, in dependency order:
#: ``(metric name, module, function, extra args)``.
LAYOUTS = (
    ("ensure_events_by_day", "partitioned", "ensure_events_by_day", ()),
    ("ensure_events_nested", "partitioned", "ensure_events_nested", ()),
    ("ensure_events_zorder", "partitioned", "ensure_events_zorder", ()),
    ("ensure_events_by_user", "partitioned", "ensure_events_by_user", ()),
    ("ensure_ivf_pq_index", "pq", "ensure_ivf_pq_index", ()),
    ("ensure_shingle_sets", "dedup", "ensure_shingle_sets", ()),
    ("ensure_shingle_postings", "dedup", "ensure_shingle_postings", ()),
    ("ensure_shingle_prefix", "dedup", "ensure_shingle_prefix", ()),
    ("ensure_minhash_sig_index", "dedup", "ensure_minhash_sig_index", ()),
    ("ensure_simhash_fp_index", "dedup", "ensure_simhash_fp_index", ()),
    ("ensure_winnow_fp_index", "dedup", "ensure_winnow_fp_index", ()),
    ("ensure_token_counts", "text_analysis", "ensure_token_counts", ()),
    ("ensure_token_df", "text_analysis", "ensure_token_df", ()),
    ("ensure_ngram5_postings", "text_analysis", "ensure_ngram5_postings", ()),
    ("ensure_byte_shingle_sets", "multimodal_ops", "ensure_byte_shingle_sets", ()),
    ("ensure_byte_minhash_sigs", "multimodal_ops", "ensure_byte_minhash_sigs", ()),
    ("ensure_orders_jsonl_dirty", "formats", "ensure_orders_jsonl_dirty", ()),
    ("ensure_orders_csv", "formats", "ensure_orders_csv", ()),
    ("ensure_orders_jsonl", "formats", "ensure_orders_jsonl", ()),
    ("ensure_orders_orc", "formats", "ensure_orders_orc", ()),
    ("ensure_orders_xml", "formats", "ensure_orders_xml", ()),
    ("ensure_docs_bin", "formats", "ensure_docs_bin", ()),
    ("ensure_orders_evolved", "formats", "ensure_orders_evolved", ()),
    ("bucketed_orders", "bucketed", "ensure_bucketed", ("orders", "o_custkey")),
    ("bucketed_customer", "bucketed", "ensure_bucketed", ("customer", "c_custkey")),
)

#: The layouts the ingest workload builds cold: the batch twins of the
#: streaming maintainers and the layouts they are built from.
INGEST_LAYOUTS = (
    "ensure_shingle_sets",
    "ensure_shingle_postings",
    "ensure_minhash_sig_index",
    "ensure_token_counts",
    "ensure_token_df",
    "ensure_ngram5_postings",
    "ensure_byte_shingle_sets",
    "ensure_byte_minhash_sigs",
)

#: name -> dataset basename (unique to the benchmark: derived layouts
#: are keyed by it), generator scale factor, pinned operations, and
#: kind: ``queries`` set-ups build or refresh every layout before the
#: timed pass; ``ingest`` builds its layouts inside the pass.
WORKLOADS = {
    "catalog": {"dataset": "pbench_catalog", "sf": 0.01, "ops": CATALOG, "kind": "queries"},
    "ingest": {"dataset": "pbench_ingest", "sf": 0.01, "ops": MAINTAINERS, "kind": "ingest"},
}

#: Number of equal document chunks the ingest workload appends per pass.
INGEST_CHUNKS = 2
