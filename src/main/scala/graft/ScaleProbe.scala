package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Scale-probe runner (round-2 verdict item 1): times the headline
  * ⟨ns⟩ queries at two or more scales (normally the driver's sf0.1
  * and a ScaleGen-derived 10× corpus) and records per-query seconds
  * + output rows, so the 100 TB scaling claims rest on measured
  * decades, not only pinned plan shapes.
  *
  * Two probe families run at every scale:
  *  - the REGISTERED oracle queries, exactly as correctness-checked
  *    (fixed index widths, right-sized for the sf0.01 oracle corpus
  *    — a fixed bucket count is O(n²/buckets) by design, so these
  *    document where reconfiguration becomes necessary);
  *  - the WIDE variants — the same operators with their documented
  *    scale knobs turned (LSH bits ∝ log n, 64-bit simhash chunks) —
  *    which are the production configuration for the larger corpus
  *    and are expected to scale ≈ linearly.
  *
  * Usage: ScaleProbe <label=dir> [<label=dir> …]
  * Output: one JSON object printed AND written to
  * SPARK_GRAFT_SCALE_OUT (default SCALE_PROBE_LAST.json — a scratch
  * name, gitignored: the round-4 default of SCALE_r04.json silently
  * overwrote that HISTORICAL record on every later probe run until
  * round 12 caught it; commit probe output under an explicit
  * SCALE_r{N}_*.json name instead).
  */
object ScaleProbe {

  /** Registered headline queries (subset of SparkEntry.queries). */
  private val registered = Seq(
    "d03_lsh_near_dup", "d04_simhash_near_dup", "d06_embedding_near_dup",
    "d07_dedup_clusters", "d09_winnow_spans", "d10_bloom_membership",
    "d11_semantic_dedup",
    // weighted simhash: one token-keyed df join + per-doc vote agg —
    // expected ≈linear
    "d12_weighted_simhash",
    // fuzzy dedup: d03's banded candidates + per-candidate Levenshtein
    // DP — expected to track d03's curve (the DP is per-candidate,
    // candidates ∝ true near-dup structure)
    "d13_edit_distance",
    // fuzzy clusters: d07's propagation over the d13 edge set
    "d14_fuzzy_clusters",
    // d15: positional-gram diagonal islands — gram-keyed shuffles
    // with df-capped fan-out (≤ C(8,2) pairs per gram), then one
    // (a,b,diagonal) window; expected ≈linear in grams + true spans
    "d15_exact_spans",
    "s01_cosine_topk", "s02_ann_lsh", "s03_ann_ivf",
    "s05_knn_classify", "s06_ann_multiprobe", "s08_dequant_topk", "s09_ann_pq",
    "s10_ann_ivfpq", "s11_ncm_classify",
    // BM25: broadcast query probe over the term-partitioned index —
    // expected ≈linear in the index (candidate set bounded by hits)
    "s12_bm25_retrieval",
    // JL projection: pure per-row constant-folded dots — expected ≈flat
    "s13_random_projection",
    // perceptron: 5 rounds of one two-phase aggregate each — expected
    // ≈linear in the feature scan
    "s14_perceptron_train",
    // s15: brute-force scoring over the norm-augmented corpus — the
    // corpus-linear term is the single scan; the top-k window input
    // grows with |q|·n, the s01 shape
    "s15_mips_topk",
    // MaxSim: |q|·n dots in one corpus scan + two keyed aggregates —
    // expected ≈linear (the s01/s15 brute-force curve)
    "s16_maxsim_topk",
    // binary quantization: 8-byte code scan + 32-per-query exact
    // re-rank — expected ≈linear with a small constant (the s09 curve)
    "s17_binary_quantize",
    // MMR: one corpus scan builds the shortlist; the five selection
    // steps run over the checkpointed queries×12 frame — expected
    // ≈linear in the scan with a flat iteration tail
    "s18_mmr_rerank",
    // RRF: each leg is its own corpus-linear retrieval (s01 scan,
    // s12 broadcast index probe); the fusion join is queries×10-row
    // — expected ≈linear in the two scans with a flat fusion tail
    "s19_rrf_fusion",
    // int4 nibble-pack + unpacked-code scoring: the s01/s08 shape —
    // one corpus-linear scan, broadcast queries, top-k window
    "s20_int4_pack",
    "c01_curate", "c02_curate_neardup", "c03_pack_sequences",
    "c04_curate_decontam", "c05_curate_mixture", "c06_curate_pack",
    "c07_curation_funnel", "c08_chunk_overlap", "c09_incremental_ingest",
    "c10_chunk_dedup",
    // per-row codec/parse stages over documents: compressed-corpus
    // ingest (gzip/zstd round-trip) and HTML main-text extraction —
    // pure per-partition maps, expected ≈linear with the corpus
    "c11_compressed_ingest", "t14_html_extract", "c12_warc_ingest",
    "c14_zip_ingest", "c15_tar_ingest",
    // PageRank: corpus-linear edge derivation + 6 fixed iterations
    // over the domain-sized graph — expected ≈flat + the scan term
    "c13_domain_rank",
    // URL canonicalization: per-row map + ONE url-keyed groupBy —
    // expected ≈linear
    "c16_url_canonical",
    // robots filter: per-row canonicalize + broadcast rule join + a
    // per-URL window over ≤4 matched rules — expected ≈linear
    "c17_robots_filter",
    // shard writer: one shard-keyed shuffle, then independent
    // per-shard tar builds — expected ≈linear, parallel in shards
    "c18_shard_pack",
    // c23: two corpus writes (fragment + bin-packed rewrite) + one
    // digest agg — expected ≈linear in corpus bytes
    "c23_compact",
    // fuzzy decontam: corpus-linear signature pass, bench side
    // broadcast (no corpus shuffle), exact verify on band-collision
    // candidates only — expected ≈linear in the scan
    "c19_fuzzy_decontam",
    "p04_domain_mixture", "p05_mixture_threshold",
    // temperature mixture: one stats agg + broadcast quota + rank
    // window — the p04 curve
    "p08_temperature_mixture",
    "t07_tfidf", "t09_pii_scrub", "t10_contamination", "t11_unigram_rarity",
    "t12_heavy_hitters", "t13_corpus_profile",
    // CCNet-style LM scoring: explode + two model equi-joins + doc
    // agg — expected ≈linear (model bounded by the reference slice)
    "t15_ngram_perplexity",
    // BPE training: one corpus-linear groupBy builds the word-type
    // table; 10 rounds iterate the vocab-sized table — expected
    // ≈flat + the scan term
    "t16_bpe_merges", "t17_bpe_encode",
    // Markov generation: model build is the corpus term; decoding
    // touches only the frontier — expected ≈flat + the scan term
    "t18_markov_generate",
    // Kneser-Ney: ONE type-table groupBy is the corpus term; the
    // context/continuation aggregates run over the bounded type table
    "t19_kneser_ney",
    // novelty QA: corpus term is the distinct-3-gram build; chains
    // and the overlap join are model-sized
    "t20_synth_novelty",
    // t21: per-row NFC normalize kernel — ≈flat + the scan term
    "t21_unicode_normalize",
    // t22: one tokenize pass + two low-key groupBys; the ordered
    // oracle fold is per-source-vocab-sized — expected ≈linear in
    // the scan with a vocab-bounded fold tail
    "t22_distribution_drift",
    // t26: per-partition codepoint classification — ≈linear, zero
    // shuffle (the t14 shape)
    "t26_script_mix",
    // t27: per-row integer rule flags — ≈linear, zero shuffle (the
    // t14 shape)
    "t27_gopher_rules",
    // p13: one per-source count + a domain-sized rank window —
    // ≈linear in the scan, allocation work bounded by |sources|
    "p13_apportionment",
    "q68_variant", // needs events.parquet in the scale dir (ScaleGen TABLES=events)
    // q46: two-phase HLL sketch agg + tiny-key join + sketch union —
    // bytes (not rows) cross the shuffle; expected ≈linear in the scan
    "q46_hll_union",
    // q48: map-side bottom-k KMV sketches (≤64 longs per type per
    // partition cross the shuffle) + a 10-row pair algebra; the exact
    // audit branch's distinct self-join is the only corpus-shaped
    // term — expected ≈linear in the scan
    "q48_kmv_intersect",
    // z-order layout: per-row interleave + one two-phase agg —
    // needs lineitem, so probe it across the DRIVER's sf dirs
    "q45_zorder_layout",
    // q58: rank window (one status shuffle) + broadcast-bounds clip
    // scan — needs orders, so probe across the DRIVER's sf dirs
    "q58_winsorize",
    // the codec tier: per-partition synth + real byte-parser decode
    // (PPM/WAV/PNG, MP3 frames, GIF LZW, BMP) — pure per-row work,
    // expected ≈flat until the decode itself outweighs the floor
    "m04_media_decode", "m07_mp3_meta", "m08_gif_meta", "m09_bmp_meta",
    "m10_mp4_meta", "m11_flac_meta", "m12_mkv_meta", "m13_tiff_meta",
    "m14_ogg_meta", "m15_pdf_meta", "m16_webp_meta",
    // m17: real rice/fixed-predictor FRAME decode — per-row codec
    // work like the rest of the m tier, expected ≈flat + decode term
    "m17_flac_pcm",
    // m18/m19: G.711 µ-law/A-law expansion — per-row integer codecs,
    // ≈flat; m20: the IMA ADPCM state machine, same per-row shape
    "m18_ulaw_pcm", "m19_alaw_pcm", "m20_adpcm_pcm",
    // m21: JPEG/APP1/TIFF-IFD walk — per-row parse, ≈flat
    "m21_exif_meta",
    // m25: JDK-zlib deflate + our full Huffman/LZ77 inflate per row
    // — per-row codec work ∝ text bytes, expected ≈linear in bytes
    "m25_inflate",
    // m26: our LZ77/fixed-Huffman ENCODER + two independent decodes
    // per row — per-row codec work ∝ text bytes, expected ≈linear
    "m26_deflate",
    // m27: JPEG entropy encode + decode + 256-px ImageIO cross-check
    // per row — fixed work per doc, expected ≈flat + the scan term
    "m27_jpeg_entropy",
    // m22: real LZW encode+decode per row (plus the ImageIO
    // cross-decode) — the heaviest per-row codec kernel, still
    // zero-shuffle, expected ≈linear in rows
    "m22_gif_lzw",
    // m23: multi-frame LZW decode + per-pixel ImageIO cross-check per
    // frame — m22's kernel × n_frames, zero-shuffle, expected ≈linear
    "m23_gif_anim",
    // m24: per-row side-info/scalefactor bit walk — ≈flat + scan term
    "m24_mp3_sideinfo",
    // m28: full PNG encode (our deflate) + decode (our inflate +
    // unfilter) + 256-px ImageIO cross-check per row — fixed work per
    // doc (16×16 image regardless of text length), expected ≈flat +
    // the scan term
    "m28_png",
    // m29: per-row RLE8 encode + fail-loud walk + per-pixel ImageIO
    // cross-check — fixed work per doc, expected ≈flat + scan term
    "m29_bmp_rle8",
    // m30: m28's chunk grammar at the palette tier (PLTE + index
    // scanlines + ImageIO getRGB cross-check) — fixed work per doc,
    // expected ≈flat + scan term
    "m30_png_palette",
    // p09: corpus-linear bigram-bucket count + broadcast-model
    // scoring scan + TakeOrdered top-k — expected ≈linear in the two
    // scans, model fixed at 1024 buckets
    "p09_dsir_select",
    // c20: per-row encode + sniff DFA + decode ∝ text bytes, zero
    // shuffle — expected ≈linear in bytes
    "c20_charset_sniff",
    // c21: per-row HOF chunk derivation (one md5 per token) + explode
    // — zero shuffle, expected ≈linear in tokens
    "c21_cdc_chunking",
    // c22: corpus gram scan × broadcast bench-position grams, island
    // merge over matched positions only, rebuild over scrubbed docs
    // only — expected ≈linear in the scan + true contamination
    "c22_span_scrub",
    // p10: d07's propagation + one doc↔label equi-join + per-row
    // hash band — expected to track d07's curve
    "p10_leakage_safe_split",
    // s21: query-sized probe planning (broadcast), ONE cell-pruned
    // label-filtered corpus scan — expected ≈linear in the scan
    "s21_filtered_ann",
    // t24: t15's scoring term + one lang-keyed ntile window over
    // doc-sized rows — expected to track t15's curve
    "t24_ccnet_buckets",
    // q56: two partial group aggs + a group-count-sized state merge
    // — expected ≈linear in the scan (needs events in the scale dir)
    "q56_incremental_agg",
    // t25: model-sized chain grams broadcast to the corpus-linear
    // (doc, gram) projection — expected ≈linear in the gram scan
    "t25_attribution",
    // q57: map-side top-k summaries, ≤k pairs per group per partition
    // across the shuffle — expected ≈linear in the scan (needs orders,
    // so probe across the DRIVER's sf dirs like q45); q33 is the same
    // semantics through the window plan — probed as q57's contrast
    "q57_topk_mapside", "q33_topk_per_group",
    // t23: one corpus-linear count; rank window + octave agg on the
    // Heaps-bounded vocab table — expected ≈flat + the scan term
    "t23_zipf_octaves",
    // q39: one key window + filter (events) — expected ≈linear in
    // the user shuffle
    "q39_cdc_apply",
    // q49: grid build is a two-phase count (≤256 partial cells per
    // map task); probe needs events in the scale dir (ScaleGen
    // TABLES=events) — expected ≈linear in the scan with a flat
    // sketch/query tail
    "q49_countmin",
    // q36: three stacked windows + per-user agg over ONE user
    // shuffle; needs events in the scale dir — expected ≈linear in
    // the shuffle with a flat 3-row tail
    "q36_funnel_pattern",
    // q37: one user window + small-key distinct agg + broadcast base
    // join — expected ≈linear in the user shuffle
    "q37_cohort_retention",
    // q38: lag + running sum + per-session agg over ONE user shuffle
    // — expected ≈linear in the shuffle, output ∝ sessions
    "q38_gaps_islands",
    // the streaming tier (round-7 verdict: the one tier with zero scale
    // evidence). q71/q74/q75/q77 are stateless replays (expected ≲3×
    // per decade: micro-batch machinery + linear work); q72/q73/q78
    // carry keyed state (session windows / stream-stream join buffers /
    // RocksDB corpus hashes) whose growth the probe characterizes.
    // q71-q75 need events.parquet, q76-q78 documents.parquet.
    "q71_stream_replay", "q72_sessionize", "q73_stream_join_replay",
    "q74_stream_dedup_replay", "q75_stream_cast_replay",
    "q76_stream_static_join", "q77_stream_chunk_replay",
    "q78_stream_ingest_gate",
    // q79: stateless broadcast-model scoring — expected ≲3×/decade
    // like the other stateless replays
    "q79_stream_lm_gate",
    // q80: stateless canonicalize + keyed seen-set state (the q78
    // shape at URL granularity) — output bounded by distinct URLs
    "q80_stream_url_gate",
    // q81: watermarked windowed agg — bounded (window × event_type)
    // state like q71, plus the append-mode finalization machinery
    "q81_stream_topk_replay",
    // q82: watermarked OUTER stream-stream join — q73's state shape
    // but with watermark eviction bounding it to the 12 h window
    "q82_stream_outer_join_replay",
    // q83: watermarked SEMI stream-stream join — strictly smaller
    // state than q82 (matched views leave state immediately)
    "q83_stream_semi_join_replay",
    // q84: watermarked FULL OUTER stream-stream join — q82's state
    // shape on BOTH sides (each buffers its open 12 h windows)
    "q84_stream_full_outer_join_replay",
    // q85: TTL-bounded streaming dedup — q74's curve with the state
    // held to the open day horizon instead of growing with the corpus
    "q85_stream_dedup_ttl_replay",
    // p11: per-row ≤8 md5s + TakeOrderedAndProject — expected ≈linear
    // scan term, no shuffle
    "p11_weighted_reservoir",
    // s22: within-cell self-join (quadratic per cell, bounded by the
    // occupancy knob) + edge-sized aggregate and mutual join — the
    // knob is DERIVED in-query since r11 (cells = max(8, ceil(n/256)),
    // AnnKmeans.derivedK), so the registered spelling holds occupancy
    // flat across decades — expected ≈linear
    "s22_knn_graph",
    // p12: five corpus-linear scans with literal centers (≤5 dots
    // per row, no join) — expected ≈linear
    "p12_kcenter_coreset",
    // q86: update-mode agg + foreachBatch log + one compaction
    // window — state is the key space, emission the changed keys
    "q86_stream_update_agg_replay",
    // q87: q86's agg state read back via format("statestore") + a
    // store-local range filter — state is the key space; the reader
    // is one batch scan over the checkpoint, expected ≈q86's curve
    "q87_statestore_range",
    // q88: session_window under a watermark, append mode — per-user
    // merge state bounded by open sessions; expected ≈q72's curve +
    // the file-sink term
    "q88_stream_session_replay",
    // q90: stream-stream join state (open 12 h windows per user) +
    // day-keyed agg state in ONE query — expected ≈q73's curve with
    // the agg term bounded by the day key space
    "q90_stream_join_agg_replay",
    // q89: one (user,bucket) close shuffle over events + a spine
    // bounded by users × hours — expected ≈linear in the scan with a
    // clock-bounded (not volume-bounded) grid term
    "q89_resample_ffill",
    // s23: s22's graph build + ≤12 broadcast-frontier adjacency
    // joins — expected ≈s22's curve (the walk adds edge-sized scans,
    // never corpus shuffles)
    "s23_graph_ann",
    // c24: the composed pipeline — ingest/gate map work + the c02
    // near-dup machinery + domain-sized quotas; the pack stage is
    // budget-bounded (≤199 rows) so its cost is CONSTANT across
    // scales — expected ≈c02's curve
    "c24_pipeline_e2e",
    // c25: one partitioned write + 4 snapshot scans over live files;
    // the log replay is metadata-sized — expected ≈linear in bytes
    "c25_txlog_snapshot",
    // c26: the same table, but each commit reads ONLY its delta
    // files — expected ≈c25's write term + sub-table scan cost
    "c26_txlog_incremental",
    // m31: per-row synth + Huffman decode, zero shuffle — expected
    // ≈linear like the rest of the m tier
    "m31_mp3_huffman",
    // m32: per-row EBML walk + Opus framing parse, zero shuffle
    "m32_mkv_opus",
    // q92: one stateful pass with per-key timer state — expected
    // ≈q88's curve (state bounded by open sessions)
    "q92_timer_session_replay",
    // m33: per-row PNG decode + dHash, then a 16-bit-chunk equi-join
    // over the group table — expected ≈linear in rows
    "m33_phash_dedup",
    // m34: m31's decode + per-line integer exponent fold — expected
    // ≈m31's curve
    "m34_mp3_requant",
    // d16: standing-index build (corpus-linear, the amortized term)
    // + shard probe; see SCALE_r13_d16.json for the build/probe
    // decomposition — the registered query pays both per run
    "d16_incremental_neardup",
    // c27: table build (corpus write) + COW rewrite of the three
    // affected buckets + one snapshot scan — expected ≈linear in
    // table bytes with the rewrite ∝ touched partitions
    "c27_txlog_merge")

  /** Wide variants: operators with their scale knobs turned to the
    * 10×-corpus-appropriate width (bits per band 2→5 keeps bucket
    * occupancy at the sf0.1 level; 64-bit simhash widens chunks from
    * 8 to 16 bits = 256 → 65k buckets).
    */
  private def wideVariants(s: SparkSession, dir: String): Seq[(String, () => DataFrame)] = Seq(
    // q45 follow-through: writes the z-ordered + linear parquet
    // copies and measures footer pruning (rows scanned per probe) —
    // the datum is the 4-row result, the timing is the write+probe
    "q45_zorder_prune" -> (() => {
      val outRoot = java.nio.file.Files
        .createTempDirectory("graft_zorder_probe_").toString
      graft.operators.ZorderLayout.pruningProbe(s, dir, outRoot)
    }),
    "d04_wide_64bit" -> (() =>
      graft.operators.Dedup.simhashNearDupParam(s, dir, nBits = 64, nChunks = 4, maxHamming = 3)),
    "d06_wide_5bit" -> (() =>
      graft.operators.Dedup.verifiedEmbeddingPairsParam(s, dir, nBands = 2, bitsPerBand = 5)
        .orderBy(col("id_a"), col("id_b"))),
    "d11_wide_k64" -> (() =>
      graft.operators.Dedup.semanticDedupParam(s, dir, k = 64)),
    "d07_wide_5bit" -> (() => wideClusters(s, dir, bitsPerBand = 5, "d07_wide_5bit")),
    // the NEXT knob stop (sf10-appropriate): occupancy ∝ n/2^bits, so
    // 10× the corpus wants ~3.3 more bits per band — 8 bits keeps
    // per-bucket occupancy at the 5-bit/sf1 level (~2k vectors), and
    // k=256 does the same for the k-means cells (SCALE.md's knob
    // rule). These are what decade-2 probes run at sf10, paired in
    // SCALE.md with the 5-bit/k64 sf1 numbers.
    "d06_wide_8bit" -> (() =>
      graft.operators.Dedup.verifiedEmbeddingPairsParam(s, dir, nBands = 2, bitsPerBand = 8)
        .orderBy(col("id_a"), col("id_b"))),
    "d07_wide_8bit" -> (() => wideClusters(s, dir, bitsPerBand = 8, "d07_wide_8bit")),
    // p10 at production width: the registered 2×2 banding is
    // O(n²/buckets) by design past sf1 (d07's documented knee) — the
    // leakage-safe split's scale path rides d07's wide config, adding
    // only the doc↔label join + per-row band
    "p10_wide_8bit" -> (() => {
      val labels = wideClusters(s, dir, bitsPerBand = 8, "p10_wide_8bit")
        .select(col("vec_id"), col("cluster_id").as("label"))
      import org.apache.spark.sql.functions.{coalesce, lit, md5, substring, when}
      val grp = graft.Tables.documents(s, dir).select(col("doc_id"))
        .join(labels, col("doc_id") === col("vec_id"), "left")
        .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("group_id"))
      val gk = substring(md5(col("group_id").cast("string")), 1, 4)
      grp.select(col("doc_id"), col("group_id"),
        when(gk < "e666", "train").when(gk < "f333", "val")
          .otherwise("test").as("split"))
        .orderBy(col("doc_id"))
    }),
    "d11_wide_k256" -> (() =>
      graft.operators.Dedup.semanticDedupParam(s, dir, k = 256)),
    // q82 in PRODUCTION geometry: time-ordered multi-batch replay, so
    // the 12 h watermark evicts between chunks and join state holds
    // the open windows, not the whole history (the single-batch
    // oracle replay is state ∝ corpus BY CONSTRUCTION and OOMs at
    // sf100) — output set-identical, StreamChunkedReplaySpec-pinned
    "q82_wide_chunked" -> (() =>
      graft.operators.StreamReplay.outerJoinReplayChunked(s, dir, nChunks = 24)
        .orderBy(col("user_id"), col("view_id"), col("purchase_id"))),
    // q83 in the same production geometry — semi state is strictly
    // smaller than q82's (matched views leave state immediately)
    "q83_wide_chunked" -> (() =>
      graft.operators.StreamReplay.semiJoinReplayChunked(s, dir, nChunks = 24)
        .orderBy(col("user_id"), col("view_id"))),
    // q84 in the same production geometry — the full outer join's
    // two-sided buffers hold open windows only, evicted per chunk
    "q84_wide_chunked" -> (() =>
      graft.operators.StreamReplay.fullOuterJoinReplayChunked(s, dir, nChunks = 24)
        .orderBy(col("user_id"), col("view_id"), col("purchase_id"))),
    // q85 in the same production geometry — dedup state evicts at the
    // 1-day TTL per chunk, so live state is the open day horizon
    "q85_wide_chunked" -> (() =>
      graft.operators.StreamReplay.dedupTtlReplayChunked(s, dir, nChunks = 24)
        .orderBy(col("user_id"), col("event_type"), col("day"))),
    // s22 at the production knob — trained cells at k ∝ n (the d11
    // wide pairing: k64 at sf1, k256 at sf10) keep per-cell occupancy
    // flat, so candidates are occupancy × n — linear in the corpus
    "s22_wide_k64" -> (() => graft.operators.Similarity.knnGraphParam(s, dir, k = 64)),
    // q86 in the chunked production geometry — cross-trigger key
    // updates make the batch_id compaction do real work
    "q86_wide_chunked" -> (() =>
      graft.operators.StreamReplay.updateAggReplayChunked(s, dir, nChunks = 24)),
    "s22_wide_k256" -> (() => graft.operators.Similarity.knnGraphParam(s, dir, k = 256)),
    // write-cost decomposition (round-11 verdict #3): the q88/q90
    // stateful kernels with the file sink replaced by a count-only
    // drain — pairing these timings with the registered replays at
    // the same scale separates the state-merge term from the
    // emitted-row sink write (q88's 4.43x second decade carried 4.7M
    // sessions THROUGH the sink; this isolates what state cost)
    "q88_drain_only" -> (() => graft.operators.StreamReplay.sessionReplayDrainOnly(s, dir)),
    "q90_drain_only" -> (() => graft.operators.StreamReplay.joinAggReplayDrainOnly(s, dir)),
    // c23 at the promised 100 TB shape: hive-partitioned fragment, one
    // independent compaction cycle per source= prefix (Hadoop
    // FileSystem listing, per-prefix collapse require, per-prefix
    // digest vs the original slice) — the datum is the per-prefix
    // stats frame with digest_ok all true
    "c23_prefix_compact" -> (() => graft.operators.Curation.compactPerPrefix(s, dir)),
    // d16 build/probe decomposition: the standing index is the
    // amortized nightly term (build_sec); the per-shard probe is what
    // a daily run pays (probe_sec). The fixed-delta variant caps the
    // shard at the sf0.1 BASE fixture's ids (ScaleGen replicas re-key
    // upward, so this is exactly replica 0's shard at every factor):
    // across sf1 → sf10 the corpus and index grow 10× while the shard
    // is CONSTANT — probe_sec staying ~flat is the measured
    // cost-∝-delta claim
    "d16_probe_scaled_delta" -> (() => graft.operators.Dedup.d16ProbeStats(s, dir)),
    "d16_probe_fixed_delta" -> (() =>
      graft.operators.Dedup.d16ProbeStats(s, dir, deltaMaxDocId = Some(4999L))),
    // q93 decomposition (round-14): index build amortized, then the
    // streaming gate replaying the FIXED base-fixture shard across
    // a growing corpus — replay_sec ~flat is per-trigger cost ∝
    // trigger batch, not corpus
    "q93_gate_fixed_shard" -> (() => graft.operators.StreamReplay
      .q93ProbeStats(s, dir, nChunks = 4, deltaMaxDocId = Some(4999L))),
    // c28 decomposition (round-14): point-delete COMMIT cost (fixed
    // key list) vs the table build and the MOR scan — commit_sec
    // ~flat across a 100× table is the row-level-change-is-O(delta)
    // claim
    "c28_delete_commit_fixed_keys" -> (() => graft.operators.Curation
      .c28ProbeStats(s, dir, keyMaxDocId = Some(4999L))),
    // s24 decomposition (round-14): nightly index build under the
    // derived k ∝ n knob vs two serving probes — probe cost tracks
    // the query count, flat across corpus decades
    "s24_index_probe" -> (() => graft.operators.AnnKmeans.s24ProbeStats(s, dir)),
    // DPP at scale: writes the day-partitioned copy + dim table, runs
    // the join DPP-on and DPP-off — the datum is the 2-row metrics
    // frame (files/rows scanned each way), the timing is write+probe
    "dpp_probe" -> (() => {
      val outRoot = java.nio.file.Files
        .createTempDirectory("graft_dpp_probe_").toString
      graft.sources.DppProbe.probe(s, dir, outRoot)
    }))

  /** d07's cluster collapse over a width-parameterized d06 edge set. */
  private def wideClusters(s: SparkSession, dir: String,
      bitsPerBand: Int, probeName: String): DataFrame = {
    val verified = graft.operators.Dedup
      .verifiedEmbeddingPairsParam(s, dir, nBands = 2, bitsPerBand = bitsPerBand).cache()
    val labels = graft.operators.Dedup
      .convergedLabels(verified, graft.operators.Dedup.CcRounds, probeName)
    verified.unpersist(blocking = false)
    val sizes = labels.groupBy(col("label"))
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n_members"))
    labels.alias("l").join(sizes.alias("c"), col("l.label") === col("c.label"))
      .select(col("l.vec_id"), col("l.label").as("cluster_id"), col("c.n_members"))
      .orderBy(col("vec_id"))
  }

  def main(args: Array[String]): Unit = {
    val scales = args.toSeq.map { a =>
      val Array(label, dir) = a.split("=", 2); (label, dir)
    }
    require(scales.nonEmpty, "usage: ScaleProbe <label=dir> [<label=dir> ...]")
    val spark = Runeset.host.buildSession()

    // JIT/codegen warmup outside the measurements (Bench's pattern)
    spark.range(1000).selectExpr("sum(id)").collect()

    def time(name: String, build: () => DataFrame): (String, Double, Long) = {
      val t0 = System.nanoTime()
      val (sec, rows) =
        try {
          val df = build()
          df.write.format("noop").mode("overwrite").save()
          val elapsed = (System.nanoTime() - t0) / 1e9
          (elapsed, df.count()) // rows counted AFTER the timed action
        } catch { case e: Throwable =>
          System.err.println(s"[scale] $name failed: ${e.getMessage}")
          (-1.0, -1L)
        }
      Runeset.releaseCaches(spark)
      (name, sec, rows)
    }

    // SPARK_GRAFT_SCALE_ONLY=d03_lsh_near_dup,t11_unigram_rarity — probe
    // a subset (e.g. the linear-path queries across a SECOND decade,
    // where the full list would take hours); unset probes everything.
    // Per-scale form `sf1:a,b;sf10:c,d` runs a DIFFERENT subset per
    // label — the knob-scaled decade comparison (5-bit/k64 at sf1
    // next to 8-bit/k256 at sf10) needs both in ONE session, because
    // cross-session timings are not comparable (round-4 lesson), yet
    // the small-width configs are O(n²/buckets)-infeasible at the
    // large scale.
    val onlyRaw = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
    def onlyFor(label: String): Option[Set[String]] =
      onlyRaw.map { spec =>
        if (spec.contains(":")) {
          val perLabel = spec.split(";").map(_.trim).filter(_.nonEmpty).map { part =>
            val Array(l, qs) = part.split(":", 2)
            l.trim -> qs.split(",").map(_.trim).filter(_.nonEmpty).toSet
          }.toMap
          perLabel.getOrElse(label, Set.empty[String])
        } else spec.split(",").map(_.trim).filter(_.nonEmpty).toSet
      }
    // a typo'd name must fail loudly, not publish a table missing rows
    locally {
      val known = registered.toSet ++ wideVariants(spark, scales.head._2).map(_._1)
      val named = scales.flatMap { case (l, _) => onlyFor(l).getOrElse(Set.empty) }.toSet
      val unknown = named -- known
      require(unknown.isEmpty,
        s"SPARK_GRAFT_SCALE_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val results = scales.map { case (label, dir) =>
      val only = onlyFor(label)
      // pay the parquet-footer + first-touch cost once per scale dir
      // (events-only scale dirs exist for the streaming/q68 probes —
      // ScaleGen TABLES=events — so touch only what's present)
      if (new java.io.File(s"$dir/documents.parquet").exists())
        Tables.documents(spark, dir).limit(10).count()
      if (new java.io.File(s"$dir/embeddings.parquet").exists())
        Tables.embeddings(spark, dir).limit(10).count()
      // materialize the shredded-variant table outside the timings:
      // it is INGEST-time work (built once per corpus, like the
      // parquet itself) — q68's probe measures the query over
      // shredded storage, not the one-time shred
      if (only.forall(_.contains("q68_variant")) &&
          new java.io.File(s"$dir/events.parquet").exists())
        Tables.eventsVariant(spark, dir).limit(10).count()
      val reg = registered.filter(n => only.forall(_.contains(n)))
        .map(n => time(n, () => SparkEntry.queries(n)(spark, dir)))
      val wide = wideVariants(spark, dir)
        .filter { case (n, _) => only.forall(_.contains(n)) }
        .map { case (n, b) => time(n, b) }
      label -> (reg ++ wide)
    }

    def fmt(rs: Seq[(String, Double, Long)]): String =
      rs.map { case (n, s, r) => s""""$n":{"sec":$s,"rows":$r}""" }.mkString("{", ",", "}")
    val scalesJson = results.map { case (l, rs) => s""""$l":${fmt(rs)}""" }.mkString("{", ",", "}")
    // pairwise ratio of the LAST scale over the FIRST, per query
    val ratios =
      if (results.size >= 2) {
        val first = results.head._2.map(r => r._1 -> r._2).toMap
        val last = results.last._2.map(r => r._1 -> r._2).toMap
        last.keys.toSeq.sorted.flatMap { n =>
          (first.get(n), last.get(n)) match {
            case (Some(a), Some(b)) if a > 0 && b > 0 =>
              Some(s""""$n":${(b / a * 100).round / 100.0}""")
            case _ => None
          }
        }.mkString("{", ",", "}")
      } else "{}"
    val json =
      s"""{"metric":"scale_probe","scales":$scalesJson,"sec_ratio_last_over_first":$ratios}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "/root/repo/SCALE_PROBE_LAST.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[scale] could not write $out: ${e.getMessage}")
    }
    println(json)
    spark.stop()
  }
}
