"""Operator surface. Import from the submodules:

  rules       apply_rules (the one cascade; schema_url-versioned rules
              gated by literal schema_url comparisons)
  extract     extract_pages (pandas/Arrow), extract_pages_native
  enrich      insert_attrs_if_absent, apply_semconv_mappings, lookup_lang_name,
              join_dims
  route       slim_for_sink + routed_rows (the sink rows), SINK_PARTITIONS,
              SINK_CODEC, write_routed_single_pass, rebalanced_writer,
              salted_repartition
  metrics     metrics_manifest (one pass: metrics_pass), local_frame
  exporters   debug_sample, write_with_rotation, duration_histogram
  dedup       exact_dedup_groups, minhash_lsh_pairs,
              simhash64/simhash_pairs, ngram_jaccard_pairs
  similarity  topk_brute_force, topk_lsh, topk_ivf, embedding_near_dup_pairs
  text        ws/regex token counts, stopword_ratio, mean_token_len,
              lang_id, word_shingles, minhash_signature
  multimodal  synthetic_media, decode_and_featurize, frame_sample_plan
"""
