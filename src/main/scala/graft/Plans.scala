package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** The plan dumper. It executes a query and records every plan the run
  * executes: each action run while the query is built (a scratch
  * localCheckpoint, a count, a collect), then the returned DataFrame's
  * final (post-AQE) plan. Two forms:
  *   runMain graft.Plans [sfDir] [outFile]
  *     the audit: the headline queries below, each with a note on what
  *     its plans must show, written to PLANS.md;
  *   runMain graft.Plans <sfDir> <outDir> <suffix> <q1,q2,...>
  *     `explain("formatted")` of every plan of each named query, one
  *     `<outDir>/<q>_<suffix>.txt` per query (before/after evidence). */
object Plans {

  /** `details`: substrings selecting node-detail lines (the part of
    * explain("formatted") below the tree) to quote under the tree —
    * exchange keys, pushed filters — so each note's claim is visible
    * in the artifact itself. */
  private case class Entry(name: String, note: String,
      details: Seq[String] = Nil, confs: Map[String, String] = Map.empty)

  private val entries = Seq(
    Entry("q01_tpch_q1",
      "Partial aggregation: the scan feeds a map-side HashAggregate " +
        "before the 4-key exchange, so the shuffle carries partial " +
        "states, not 600k rows. Scan reads only the 7 referenced " +
        "columns (ReadSchema) with the date filter pushed to parquet " +
        "(PushedFilters) - the pruning contract every projection-style " +
        "query here inherits.",
      details = Seq("PushedFilters", "ReadSchema")),
    Entry("q30_tpch_q5ish",
      "Join ordering at 100 TB: every dimension (region/nation/customer/" +
        "supplier) arrives as a BroadcastHashJoin build side; the " +
        "lineitem fact is scanned ONCE and never shuffled for a join. " +
        "The only exchange is the final group-by - the shape that " +
        "survives a 1000-executor fact table."),
    Entry("q37_dedup_minhash",
      "Banding near-dup: signatures come from the native codegen'd " +
        "MinHashSig expression (no UDF boxing in the scan stage), and " +
        "the band exchange carries (band-hash, doc_id) pairs only - " +
        "document text never crosses the wire. Candidate pairs appear " +
        "via the posting-list self-join, df-capped against hot shingles."),
    Entry("q41_knn_lsh",
      "Sub-linear ANN: the corpus is bucketed by 12 independent SRP " +
        "tables (explode x12, then an equi-join on (table, bucket)) " +
        "instead of the all-pairs cross join - the candidate set is the " +
        "join output (~0.53 of the corpus per query at the measured " +
        "recall>=0.8 operating point), scored by the native DotProduct " +
        "inside whole-stage codegen."),
    Entry("q59_tfidf_top_term",
      "Struct-argmax instead of a per-document window sort: tf and df " +
        "are two keyed aggregates (both with map-side partials), and " +
        "the per-doc winner is min(struct(-tfidf, term)) - no " +
        "sort-within-partition over the whole corpus. The scan spread " +
        "is conditional, so a pre-partitioned corpus keeps zero extra " +
        "exchanges below the shingling."),
    Entry("q72_decontaminate_bloom",
      "Bloom-prefiltered decontamination: the test-side gram set " +
        "collapses into a ~MB bloom built by ONE scalar subquery " +
        "(graft_bloom_agg), and the probe (graft_bloom_contains) sits " +
        "in the TRAIN-side scan stage - clean training rows are " +
        "discarded before the join exchange, which is the entire " +
        "point at 100 TB: the join sees the contaminated sliver only."),
    Entry("q92_epoch_shuffle",
      "GlobalIndex two-phase ordinal assignment: a range exchange sorts " +
        "by the epoch key, then ids are stamped from per-partition " +
        "counts + broadcast prefix offsets with row_number WITHIN " +
        "partitions - note the absence of a single-partition Window " +
        "(the naive global row_number collapse) and of any " +
        "DeserializeToObject round-trip."),
    Entry("q102_ivf_learned",
      "Learned-list IVF probe: the k-row centroid table is built once " +
        "(k-key aggregate), the query side probes it via a broadcast " +
        "(k rows), and the final exact scoring joins ONLY the probed " +
        "lists' members - the corpus-side join input is nprobe/k of " +
        "the data, the sub-linear serving shape."),
    Entry("q103_semdedup",
      "SemDeDup pair stage: the self-join is an equi-join keyed on the " +
        "k-means cluster id (shuffle/sort-merge at scale, never a " +
        "broadcast nested loop of the corpus), so candidate pairs are " +
        "confined to clusters. k is ADAPTIVE (max(8, ceil(n/250)), " +
        "mirrored in the oracle by a scalar subquery): per-cluster " +
        "pair work stays ~250^2/2 however the corpus grows, so " +
        "sum(|cluster|^2) is ~125*n - LINEAR - where the old fixed " +
        "k=8 was O(n^2/8) (measured 85.8 -> 16.0 s at the 100x probe; " +
        "decade growth 4.0 s -> 16.0 s at 10x the data). The " +
        "assignment itself is a pure PROJECTION: the k-row centroid " +
        "table rides inside the native codegen'd NearestCentroid " +
        "kernel as a foldable literal (decoded once to long[][]), so " +
        "there is NO join at all in the assign stage and no " +
        "interpreted HOF in the loop (81 -> ~4 s for the 800-centroid " +
        "100x assign). Operating curve: the k x dim literal stays " +
        "broadcast-trivial through k ~ 1e5 (~25M vectors per training " +
        "shard at target 250); past that the flat argmin needs a " +
        "two-level coarse quantizer - documented in Similarity.KmTarget."),
    Entry("q110_cluster_cohesion",
      "Cohesion triangle census through operators.Triangles (the " +
        "q196/q206/q208 core) instead of the naive un-oriented 3-way " +
        "self-join: the un-oriented wedge join materializes sum(deg^2) " +
        "rows - quadratic around a near-dup hub, exactly where a " +
        "cohesion report has its hottest clusters - while the low-" +
        "(deg,id) -> high orientation caps every out-degree at " +
        "O(sqrt(m)), so the census is O(m^1.5) total with the wedge " +
        "exchange pinned to full width (AQE sizes reducers by input " +
        "bytes and would serialize the expansion). Clusters partition " +
        "the node set, so ONE global run over the edge union suffices " +
        "and the per-cluster report is a join back on the a-corner. " +
        "With adaptive k (q103's curve) the edge stage is linear too: " +
        "10x probe 23.3 s (round-9 naive) -> 3.4 s; 100x 24.4 s -> " +
        "16.2 s (6.8M triangles) after the build-once assignment " +
        "artifact (round 14). The oracle is unchanged - orientation " +
        "changes the plan, not the triangle set.",
      details = Seq("REPARTITION_BY_NUM")),
    Entry("q104_skew_salted_join",
      "Skew-salted join: the join exchange hash-partitions on " +
        "(source, graft_salt) - each hot source key is spread over 16 " +
        "reducer cells, and the dimension side is exploded 16x before " +
        "its own exchange. Compare the key list in the Exchange nodes: " +
        "the salt is IN the partitioning, which is the whole fix. " +
        "(Dumped with auto-broadcast off: at the audit SF the 320-row " +
        "replicated dim would broadcast and the salting degrade to a " +
        "free projection - the shuffle shape below is the one a " +
        "too-big-to-broadcast dim gets.)",
      details = Seq("hashpartitioning"),
      confs = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")),
    Entry("q112_bm25",
      "Global top-k done right: the scored corpus flows into " +
        "TakeOrderedAndProject (per-partition heads, merged once) - " +
        "NOT a single-task global Window sort - and the rank window " +
        "runs over the 20 survivors only. The corpus stats arrive as " +
        "one broadcast aggregate row (BroadcastNestedLoopJoin against " +
        "a 1-row build side), so scoring is a pure projection."),
    Entry("q114_knn_batch_topk",
      "Batch-ANN top-k via the bounded heap: the candidate stream feeds " +
        "an ObjectHashAggregate partial/final pair running " +
        "graft_topk_score_id (the primitive-array heap - two field " +
        "evals and primitive compares per row, zero allocation once " +
        "the heap fills) - at most K rows per query cross the " +
        "exchange, and there is NO Window node sorting candidates per " +
        "q_id (q41's window tail, kept there for few-query serving, " +
        "would sort every candidate of every query at a million-query " +
        "batch scale).",
      details = Seq("graft_topk_score_id")),
    Entry("q115_heavy_hitters",
      "Sketch-then-confirm: the Misra-Gries pass is an " +
        "ObjectHashAggregate partial/final pair over the token scan " +
        "whose exchange carries ONE fixed-size summary per partition - " +
        "never the vocabulary. The confirm pass joins the corpus " +
        "against the <= 63 candidates as a BroadcastHashJoin build " +
        "side (the filter runs AT the scan), and the exact count " +
        "aggregate that follows shuffles only candidate keys. The " +
        "vocabulary-sized exchange a naive GROUP BY token would pay " +
        "appears nowhere in this plan.",
      details = Seq("graft_heavy_hitters")),
    Entry("q116_changelog_compact",
      "CDC compaction as a declarative aggregate: max_by over the " +
        "(ts, event_id) struct runs as a partial/final aggregate pair " +
        "(SortAggregate - struct-valued buffers are not " +
        "Tungsten-hashable, so each partition sorts ITS OWN rows by " +
        "key, still no global sort), and each partition forwards one " +
        "candidate row per user_id: the exchange is key-bounded. No " +
        "Window node: the ranking-window formulation (the oracle's) " +
        "would shuffle every change of every key and sort per key " +
        "globally."),
    Entry("q119_zorder_layout",
      "Layout audit in one scan: lineitem is read ONCE (3 columns, " +
        "ReadSchema), the Morton interleave is closed-form integer " +
        "arithmetic inside the codegen stage, and Generate explodes " +
        "each row into its two (layout, bucket) assignments BEFORE the " +
        "partial HashAggregate - so the one exchange carries <= 512 " +
        "bucket keys per partition, never the fact table. A per-arm " +
        "UNION formulation would scan the fact twice; at 100 TB the " +
        "scan is the cost being audited.",
      details = Seq("ReadSchema")),
    Entry("q120_dedup_prefix_join",
      "Lossless candidate generation: the vocabulary df frame is the " +
        "PINNED broadcast build side of the rank join (without the hint " +
        "Spark's cache-derived estimates broadcast the exploded corpus " +
        "- memory-quadratic wrong at scale); PPJoin's length AND " +
        "positional filters are FUSED into pair emission " +
        "(PositionalBoundedPairs over packed size|id posting lists " +
        "carrying canonical-order positions - size-incompatible pairs " +
        "and co-occurrences whose overlap bound 1+min(na-pa, nb-pb) " +
        "cannot reach tau/(1+tau)*(na+nb) are never emitted, " +
        "deduplicated, or joined: 60% of candidates gone at every " +
        "probed decade, losslessly), and verification intersects " +
        "per-doc-SORTED arrays with the native SortedIntersectCount " +
        "merge off the checkpointed id-pair frame - the shingle arrays " +
        "never cross an exchange as a join build side."),
    Entry("q260_screened_dedup",
      "The screen-then-lossless COMPOSITION (the q120 CLASSES note's " +
        "100 TB doctrine, measured instead of prose - r13 ask #2): " +
        "q121's sorted-neighborhood machinery at a loosened hamming " +
        "<= 8 marks suspect docs in O(n*w) window pairs off ONE range " +
        "exchange, a leftsemi slice join (AQE-sized, no broadcast pin " +
        "- suspects are dup-mass-proportional, not dimension-bounded) " +
        "restricts the shingle frame, and q120's full PPJoin + " +
        "SortedIntersectCount verify runs on the slice only - so the " +
        "corpus-proportional cost is the nlogn screen while the " +
        "superlinear pair mass is confined to the suspect slice."),
    Entry("q123_pps_sample",
      "Weighted sampling without the single-task window: the " +
        "cumulative-weight axis comes from operators.PrefixSum - ONE " +
        "range exchange (RangePartitioning in the tree), per-partition " +
        "totals to the driver, narrow stamping - where the oracle's " +
        "sum() OVER (ORDER BY) formulation serializes the corpus " +
        "through one task. The stride scalar arrives as a broadcast " +
        "1-row cross join, the q112/q98 shape."),
    Entry("q124_table_diff",
      "Reconciliation without a full-width join: each snapshot reduces " +
        "map-side to 65536 (count, bit_xor) bucket summaries - the only " +
        "corpus-wide exchanges carry <= 65536 rows of fixed-size state - " +
        "and the key-level outer join runs on the broadcast-semi-joined " +
        "sliver of disagreeing buckets only (~9.2k rows vs the 150k-row " +
        "snapshot at the audit SF; the 1024-bucket first cut degenerated " +
        "to the full table - see the query's scaladoc). The full " +
        "sort-merge join of both snapshots appears NOWHERE in the plan."),
    Entry("q130_bpe_merges",
      "BPE training at corpus scale: the text is scanned and " +
        "word-split ONCE, partially aggregated map-side into the word " +
        "histogram, and every merge round afterwards runs on the " +
        "HISTOGRAM alone (checkpoint scans in the tree) - pair counting " +
        "is a vocab-sized aggregate, the winning pair arrives as a " +
        "broadcast 1-row cross join (the q112/q98 scalar shape), and " +
        "the merge application is a projection. The corpus appears in " +
        "exactly one scan; 10x data moved the probe 2.2 -> 2.8 s " +
        "because only the histogram build grows.",
      details = Seq("ReadSchema")),
    Entry("q132_phrase_search",
      "Index-accelerated literal search: the query-gram IN filter " +
        "sits INSIDE the posting-list scan stage (Filter directly over " +
        "the shingle Generate - grams that are not the query's never " +
        "reach an exchange), the all-grams intersection is a tiny " +
        "keyed aggregate, and the verify fetch joins the candidate " +
        "sliver back as a BroadcastHashJoin build side against the " +
        "second corpus scan. The contains() verify sits ABOVE that " +
        "join (the predicate derives its pad char from the candidate " +
        "side on purpose - Catalyst would otherwise push it below and " +
        "verify-scan the whole corpus, the first-cut plan this audit " +
        "caught). With a materialized posting table the first scan " +
        "disappears; nothing in the plan ever shuffles document text.",
      details = Seq("PushedFilters"))
  ,
    Entry("q143_weighted_median",
      "Weighted quantile without a serialized window: the plan shows " +
        "RangePartitioning (the ONE PrefixSum shuffle over the " +
        "(flag, price, orderkey, linenumber) total order) feeding the " +
        "narrow cumulative stamp, a 3-row offset aggregate joined as a " +
        "BroadcastHashJoin build side, and the crossing row selected by " +
        "a min-struct HashAggregate - the oracle's per-flag " +
        "sum() OVER (PARTITION ... ROWS UNBOUNDED PRECEDING) cumsum, " +
        "which serializes each flag through one task, appears nowhere."),
    Entry("q138_attribution",
      "As-of rewrite under the gate: ONE scan of the three event types " +
        "(filter pushed to parquet), one user-keyed exchange feeding a " +
        "RunningWindowFunction over (ts, event_id) that carries the " +
        "latest-touch struct, then the channel aggregate - the oracle's " +
        "per-purchase LATERAL probe appears nowhere. The window is " +
        "per-entity bounded; there is no join in the plan at all.",
      details = Seq("PushedFilters")),
    Entry("q147_pq_adc_search",
      "ADC serving economics in the plan: the corpus-side encode is a " +
        "projection against broadcast codebook rows (crossJoin of 1-row " +
        "frames - no corpus-sized exchange), and the ADC pass joins the " +
        "4-byte code columns to the 10-row query-LUT side as a " +
        "BroadcastNestedLoopJoin - the raw embedding column appears in " +
        "exactly the codebook-training scan, the encode scan, and the " +
        "bounded rerank join, never in the per-(query, vector) scoring. " +
        "The rerank joins the corpus/5 candidate sliver on nb_id with " +
        "no pinned broadcast (the sliver grows with the corpus; AQE " +
        "broadcasts it only while it is actually small) - only the " +
        "query-count-bounded embedding frame is hinted."),
    Entry("q150_doc_repetition",
      "The native-expression economy at its purest: the whole Gopher " +
        "repetition profile is ONE codegen'd projection over the scan " +
        "(graft_repstats: per-row hash map, per-doc memory envelope) - " +
        "no explode, no (doc, gram) exchange anywhere in the plan. The " +
        "only exchanges are the output sort and Tables.spread's " +
        "single-file test-corpus repartition (absent on a real " +
        "multi-split corpus). At 100 TB this is a scan-bound quality " +
        "filter.",
      details = Seq("ReadSchema")),
    Entry("q152_exact_substr",
      "ExactSubstr candidate economics: the gram exchange carries " +
        "(gram, packed (doc,pos) long) - document text reaches the " +
        "shuffle ONLY as the 8-word anchor key, never as payload; " +
        "pairs stream out of the sorted posting lists via the " +
        "PostingPairs generator (no materialized bucket^2 arrays), and " +
        "the span-chaining window partitions on (pair, diagonal) - " +
        "every partition bounded by one pair's match count.",
      details = Seq("ReadSchema")),
    Entry("q154_gram_matrix",
      "Distributed PCA's only corpus pass: a single ObjectHashAggregate " +
        "over the scan with graft_gram's FIXED d^2-long state - the " +
        "exchange carries (#partitions x 32 KB) partials, not rows, and " +
        "the 4096-cell result explodes AFTER the aggregate. The " +
        "explode-and-group alternative (the oracle's shape) would push " +
        "64x the corpus through the aggregate hash map."),
    Entry("q156_bucketed_join",
      "Layout-time shuffle amortization: both fact sides are bucketed+" +
        "sorted by the join key, so the SortMergeJoin shows NO exchange " +
        "under it - the scans' bucket layout IS the join partitioning. " +
        "The only exchanges left are the final group-by and sort. At " +
        "100 TB this converts an every-query fact-fact shuffle into a " +
        "once-per-layout cost; the in-query require would fail the " +
        "sweep if an upgrade ever broke bucket-join planning."),
    Entry("q158_lsh_index_serve",
      "ANN serving economics: candidates come from a scan of the " +
        "PERSISTED band index - (table_no, bucket, nb_id) ints, no " +
        "embedding payload, built once per JVM per corpus dir - joined " +
        "to the broadcast banded queries; full vectors are read only " +
        "to rerank the candidate sliver. Band width is ADAPTIVE (one " +
        "bit per corpus doubling past the gate regime, integer-exact " +
        "in both engines), so bucket occupancy and the per-query " +
        "candidate mass stay ~125 at any corpus - the r14 fixed-query " +
        "probe reads scale-FLAT (r100 = 1.13) where frozen bands read " +
        "linear (11.1). The index scan appears in the plan (pinned by " +
        "the in-query require); the q41 inline-build band explode " +
        "does not.",
      details = Seq("ReadSchema")),
    Entry("q160_interval_overlap",
      "Interval-overlap candidates: both exploded interval sides meet " +
        "in a SortMergeJoin on (supplier, 64-day bin) - pinned to a " +
        "shuffle because Catalyst would size the build side from PRE-" +
        "explode scan stats and broadcast-build a multi-million-row " +
        "hashed relation (measured 2.3x slower), and to MERGE " +
        "specifically because a forced SHJ's non-spilling build map " +
        "OOMs on hot (key, bin) cells (reproduced at the 100x probe). " +
        "The max-start-bin emit-once predicate rides the join filter; " +
        "exchanges carry endpoints + ids only.",
      details = Seq("hashpartitioning")),
    Entry("q163_sq8_search",
      "SQ8 flat search: the O(n*q) proxy scan joins the code-decoded " +
        "corpus to the BROADCAST query side and scores through the " +
        "codegen'd graft_dot over float-encoded integers (bit-equal to " +
        "the oracle's BIGINT fold; interpreted HOF scoring measured 6x " +
        "slower at 10x) - then only the budgeted candidate sliver " +
        "rejoins full vectors for the exact rerank.",
      details = Seq("graft_dot")),
    Entry("q164_ks_drift",
      "Two-sample KS on ONE range shuffle: the support histogram " +
        "feeds PrefixSum.inclusiveMulti, which stamps BOTH sample CDFs " +
        "in a single repartitionByRange pass (RDD scan nodes in the " +
        "tree); the oracle's un-partitioned window - the single-task " +
        "collapse - appears nowhere. The max/argmax over |cum1*n2 - " +
        "cum2*n1| is a 1-row aggregate against the broadcast counts."),
    Entry("q165_nearest_context",
      "Nearest as-of: a SINGLE Window node carries BOTH direction " +
        "candidates - backward last() and forward first() share " +
        "partitioning and order, so Catalyst stacks them over one " +
        "exchange + sort on user_id; no lateral probe, no candidate " +
        "pairs. The one other exchange belongs to the (user, ts) " +
        "touch-dedup aggregate feeding the union - different keys, " +
        "not reusable.",
      details = Seq("hashpartitioning")),
    Entry("q169_asof_native",
      "The tier-(c) operator's plan: AsofJoinExec sits where a " +
        "SortMergeJoin would - EnsureRequirements planted the same " +
        "co-partitioned exchanges + (key, ts) sorts on both sides from " +
        "the node's declared requirements - and the merge is one " +
        "forward pass holding a single payload row. Compare q57: same " +
        "answer, but via a null-padded union and a window buffer. " +
        "Measured 1.5x faster at the 10x/100x probes.",
      details = Seq("hashpartitioning")),
    Entry("q166_join_elim",
      "Constraint-driven join elimination: the query TEXT joins part, " +
        "the optimized plan scans ONLY lineitem - plans.JoinElim " +
        "deleted the dimension join under the declared (q122-audited) " +
        "integrity edge and re-aliased pk onto fk. What remains is the " +
        "bare fact aggregate; the in-query require fails the sweep if " +
        "the rule ever stops firing.",
      details = Seq("ReadSchema")),
    Entry("q179_asof_pruned",
      "Pruning THROUGH the custom node: the query filters and narrows " +
        "AFTER the native ASOF join, and plans.AsofPrune carries both " +
        "below it - the events scans show the pushed user_id % 7 " +
        "predicate and a ReadSchema without view_value (requested as " +
        "payload, never read). Without the rule the node is a barrier " +
        "and both sides scan full-width at full cardinality.",
      details = Seq("PushedFilters", "ReadSchema")),
    Entry("q183_fluency_filter",
      "Model-scoring join shape: the KN model (vocab2-bounded, i.e. it " +
        "GROWS with the corpus) carries no pinned broadcast - at the " +
        "audit SF AQE still builds a BroadcastHashJoin from it, so the " +
        "Zipf-hot stopword pairs of the corpus probe side never " +
        "shuffle, and at true vocab2 scale the same plan degrades " +
        "gracefully to a shuffled join instead of a driver OOM. One " +
        "doc_id-keyed aggregate with map-side partials closes it.",
      details = Seq("BroadcastHashJoin")),
    Entry("q186_mmr_rerank",
      "MMR's corpus economics: the corpus is touched ONCE - the pool " +
        "scoring join against the broadcast query side, scored by the " +
        "codegen'd graft_dot - and the top-P window shuffles only " +
        "(q_id, cid, rel), the vector payload rejoining AFTER selection " +
        "(|queries|*P rows). Every greedy step after that runs on " +
        "pool-bounded frames: checkpoint scans of the selected set, a " +
        "pool-keyed join, one max-struct aggregate - no corpus scan, " +
        "no corpus exchange appears below any step.",
      details = Seq("graft_dot")),
    Entry("q187_ivfpq_serve",
      "IVF-PQ split build/serve: the serve plan reads the PERSISTED " +
        "codes table (4 B/vector scan - ReadSchema shows code columns, " +
        "no embedding), probes via the broadcast k-row centroid table, " +
        "and ADC-joins codes to the broadcast per-(query, list) LUTs " +
        "keyed on the COARSE LIST ID, so unprobed lists never get " +
        "scored. The k-means and codebook TRAINING shuffles that " +
        "dominated the inline build's plan (the retired q148 ledger " +
        "entry, kept as Similarity.ivfPqInlineSearch and cross-pinned " +
        "row-for-row by AnnRecallSpec) appear nowhere - they ran once " +
        "at index build; raw embeddings are read only for the rerank " +
        "sliver.",
      details = Seq("ReadSchema")),
    Entry("q189_bpe_encode_serve",
      "Tokenizer split train/encode: the serve plan scans the PERSISTED " +
        "vocabulary (word, repr - the frozen tokenizer), which joins " +
        "the corpus word explode as a BroadcastHashJoin build side " +
        "(vocab-bounded model, the q183 contract), then one doc_id-" +
        "keyed aggregate with map-side partials. q149's four merge-" +
        "round training passes over the word histogram appear nowhere " +
        "- they ran once at vocab build.",
      details = Seq("BroadcastHashJoin", "ReadSchema")),
    Entry("q188_ivf_sq_serve",
      "IVF-SQ split build/serve (the q187 move on the SQ family): the " +
        "serve plan scans the PERSISTED sq_codes table (ReadSchema " +
        "shows nb_id/cluster/code only - no embedding), decodes AT the " +
        "scan with the 64-entry params folded to literals, joins the " +
        "broadcast probe on the COARSE LIST ID so unprobed lists never " +
        "decode, and reads raw floats only for the rerank sliver. The " +
        "k-means training shuffles of q167's plan appear nowhere.",
      details = Seq("ReadSchema")),
    Entry("q190_sequence_pack",
      "The packer's shard contract in the plan: ONE hash exchange on " +
        "the (source, chunk) group key feeds the sorted typed fold - " +
        "no join, no second aggregate, and the sort is per-shard " +
        "(64-doc-max groups), never global. What shuffles is (doc_id, " +
        "source, n_tok) - three narrow columns; the text column never " +
        "leaves the scan projection. At 100 TB the plan is scan + one " +
        "uniform exchange, skew-free by the chunk bound.",
      details = Seq("hashpartitioning")),
    Entry("q191_curriculum_epochs",
      "The curriculum's global order without a global bottleneck: the " +
        "running token sum over (score DESC, doc_id) is the PrefixSum " +
        "two-phase scan - ONE range exchange, per-partition totals to " +
        "the driver, a narrow stamping map - never the single-task " +
        "sum-OVER window the oracle runs. Scoring is a codegen'd " +
        "projection at the scan; the epoch arithmetic rides a 1-row " +
        "broadcast total.",
      details = Seq("rangepartitioning")),
    Entry("q192_sequence_materialize",
      "The packer's payload stage: the assignment subtree reduces text " +
        "to n_tok AT its scan projection, so only narrow columns ride " +
        "the q190 shard exchange; the payload side's truncated text " +
        "then joins the assignment and crosses an exchange exactly " +
        "once, already routed to its (source, chunk, bin) group, where " +
        "the collected (doc_id, text) structs are SORTED to pin in-bin " +
        "order (collect_list arrival order is nondeterministic by " +
        "contract).",
      details = Seq("hashpartitioning")),
    Entry("q193_sequence_pack_bfd",
      "The quality packer rides the SAME plan shape as q190: one hash " +
        "exchange on (source, chunk), a per-shard descending sort " +
        "feeding the typed fold, narrow columns only - the better " +
        "utilization costs a fill-list in the fold state, not a " +
        "different distribution. No join, no global sort, no second " +
        "aggregate anywhere below the output ordering.",
      details = Seq("hashpartitioning")),
    Entry("q185_overlap_native",
      "The second tier-(c) operator's plan: OverlapJoinExec between " +
        "co-partitioned (key, start) sorts - no explode, no " +
        "max-start-bin dedup filter, no bin knob; the sweep's state is " +
        "the true interval concurrency. Compare q160: same answer via " +
        "binned equi-join whose explosion factor scales with span/bin. " +
        "Measured equal at sf0.1, 1.7x faster at 10x, 3.0x at 100x.",
      details = Seq("hashpartitioning")),
    Entry("q196_triangle_communities",
      "Exact triangles via the degree-ordered node iterator " +
        "(operators.Triangles): edges oriented low-(deg,id) -> high, so " +
        "the wedge self-join is bounded O(m^1.5) instead of quadratic " +
        "in the hottest hub. The wedge exchange is pinned to full width " +
        "- AQE sizes reducers by INPUT bytes and would serialize the " +
        "expansion onto one task (the q120/q185 explosive-join lesson). " +
        "Upstream, the co-interaction cell cap (<= 64 actives) is a " +
        "size filter on each (et, hb) cell's collected user set, so " +
        "ONE (et, hb) exchange feeds the streaming pair generator; " +
        "cells past the cap carry no pair signal and would cost " +
        "quadratically (the q97 posting-df doctrine). The edge frame " +
        "pe is a lazy localCheckpoint (its plan is the first section); " +
        "the repeated pnt subframe is served by ReusedExchange, not a " +
        "checkpoint barrier - measured 9.9 s " +
        "checkpointed vs 5.8 s reused at sf0.1 (1.39M triangles); 10x " +
        "and 100x run 3.2/4.1 s flat (their denser cells cross the cap " +
        "- at that density hour-cells are boilerplate, not signal).",
      details = Seq("REPARTITION_BY_NUM")),
    Entry("q210_hier_kmeans",
      "Two-level k-means - the operating-curve continuation past the " +
        "flat argmin's broadcast bound (k ~ 1e5): coarse KmK-cell " +
        "assignment, then ONE grouped job trains every cell's fine " +
        "codebook (KMeans.groupedCentroids - per-round one join on g + " +
        "one (g,cid)-key aggregate, NOT a job per cell), and the fine " +
        "assignment is a broadcast join on g through the native " +
        "NearestCentroid kernel. Fine fan-out is adaptive " +
        "(ceil(n/(k1*250))), so total lists track n/250 like q103's " +
        "curve. Assignment cost O(n*(k1+k2)) vs flat O(n*k1*k2): at " +
        "1e9 vectors that is 2*2000 distance evals per vector instead " +
        "of 4M and no multi-GB broadcast. Decade probes: 5.2 / 5.4 / " +
        "7.4 s at sf0.1 / 10x / 100x - flat.",
      details = Seq("hashpartitioning")),
    Entry("q211_ivf_two_level",
      "Two-level IVF serve over the q210 index: the query walks the " +
        "hierarchy (2 coarse cells by integer L2 against 8 list " +
        "centroids, then 2 fine lists within each against that cell's " +
        "k2 centroids), and exact-cosine reranks ONLY the probed " +
        "lists' members - k1 + 2*k2 distance evals per query and " +
        "~4*250 candidates per query REGARDLESS of corpus size " +
        "(adaptive fan-out keeps lists at ~n/250; a fixed fan-out " +
        "measured 37.2 s at 100x vs 21.6 s adaptive). The query " +
        "sliver is NOT pinned broadcast (corpus/50-sized, corpus-" +
        "growing - the 86c4b26 doctrine); the two centroid tables are " +
        "(dimension-sized). Decade probes: 6.4 / 8.7 / 21.6 s.",
      details = Seq("hashpartitioning")),
    Entry("q212_exact_auc",
      "Exact Mann-Whitney AUC with tie handling, no global window: a " +
        "per-score aggregate (map-side partials), ONE PrefixSum range " +
        "exchange for the cumulative negatives (the naive sum() OVER " +
        "(ORDER BY score) collapses the score axis onto one task), and " +
        "a 3-long moment row; ties count half via the doubled-integer " +
        "encoding so AUC is one final double division. 100x corpus: " +
        "2.6 s (sf0.1: 1.4 s) - scan-bound.",
      details = Seq("rangepartitioning")),
    Entry("q213_blocklist_scan",
      "Multi-pattern blocklist in ONE corpus pass: the native " +
        "Aho-Corasick ContainsAny expression walks each document once " +
        "for ANY pattern count, where the per-pattern contains() sum " +
        "re-scans the text P times (10k-phrase production blocklists " +
        "make that 10,000 corpus passes). The automaton is built at " +
        "plan time from the literal pattern list and ships as a " +
        "codegen reference object; generated code is one static kernel " +
        "call. 500k docs in 1.08 s at the 100x probe; no shuffle at " +
        "all before the final sort.",
      details = Seq("graft_contains_any")),
    Entry("q218_decontaminate_ac",
      "q63's decontamination report through the Aho-Corasick kernel: " +
        "the automaton is built ONCE at plan time from the TEST " +
        "split's distinct-gram TABLE (ContainsAny.fromFrame - " +
        "distributed distinct + fail-loud cap before the bounded " +
        "collect), then every training document pays one O(|text|) " +
        "pass with NO gram-explode shuffle; space padding makes " +
        "substring hits token-aligned, so the count equals q63's " +
        "count(DISTINCT shared grams) exactly (oracle-gated). What " +
        "ships to executors is the PATTERN STRINGS, not the trie: the " +
        "task binary deserializes per task, and shipping the built " +
        "~1.4M-node automaton cost 14.6 s of a 16.4 s run at sf0.1 - " +
        "the fingerprint-cached per-JVM rebuild cut it to 2.1 s. The " +
        "path is AUTO-SELECTED on the blocklist's size (the assignAuto " +
        "doctrine): past the 250k-pattern cap the SAME report comes " +
        "from the q63-shape distributed gram equi-join, row-identical " +
        "(DecontaminateAcSpec pins the paths against each other), so " +
        "the decade probes ride the fallback: 2.1 / 3.6 / 5.8 s at " +
        "sf0.1 / 10x / 100x.",
      details = Seq("graft_contains_any")),
    Entry("q214_rrf_fusion",
      "Hybrid-retrieval merge: the q41 LSH and q42 label-IVF rank " +
        "lists fuse by integer reciprocal-rank weights " +
        "(floor(1e6/(60+r)) - a double 1/(60+r) sum would be engine-" +
        "ordering-dependent and unhashable). Both inputs are K-bounded " +
        "per query BEFORE the fusion join, so the merge costs <= 2K " +
        "rows per query whatever the corpus size; the per-query " +
        "re-rank window runs over those same <= 2K rows. Measured: " +
        "fusion recall@5 0.86 vs 0.84 (LSH) / 0.72 (IVF) - the q215 " +
        "report. 10x probe 32 s, ~all of it the q41 LSH candidate " +
        "stage (0.53 corpus fraction at d=64 - q41's documented " +
        "operating point); the fusion layer itself adds K-bounded " +
        "work per query.",
      details = Seq("FullOuter")),
    Entry("q215_retrieval_recall",
      "The eval loop above the ANN family: LSH, label-IVF and the RRF " +
        "fusion graded against q40's exact top-K in one ledger row per " +
        "run (hits, truth, recall in exact ppm). The truth side is the " +
        "deliberate exact-eval cost on the corpus/50 query sample; " +
        "every grading join is K-bounded per query. The fusion row " +
        "(0.86 vs 0.84/0.72) turns q214's rationale into an in-ledger " +
        "measurement. 10x probe 57 s = the exact truth join plus the " +
        "q41 candidate stage - eval cost, not production path; the " +
        "query-sample knob (isQuery) is how a real stack bounds it.",
      details = Seq("hashpartitioning")),
    Entry("q216_matryoshka_recall",
      "Dimension-budget tuning: brute top-K under the FIRST d dims " +
        "(8/16/32) graded against the full-64 exact run - the ranking " +
        "cost of serving a truncated embedding (q83 measures norm " +
        "retention; this measures what an index owner budgets by). " +
        "Each truncated run is the same broadcast-query corpus scan " +
        "with a narrower DotProduct; grading joins are K-bounded. " +
        "Measured here: 8/8/34% recall@5 at d=8/16/32 - THESE " +
        "embeddings are not matryoshka-trained, and that cliff is " +
        "precisely the diagnosis the report exists to surface before " +
        "someone ships a truncated index.",
      details = Seq("graft_dot")),
    Entry("q217_tcloseness",
      "The anonymity ladder's third rung (q171 k-anon, q181 l-div): " +
        "per QI class, variational distance between the class's " +
        "sensitive distribution and the global one, denominators " +
        "cleared to pure BIGINT (absent values contribute gv*nc; the " +
        "flag is the cross-multiplied 5*tvd_num > 2*nc*N, one double " +
        "division only for the reported D). Two keyed aggregates, a " +
        "classes x 5-value completion against the broadcast value " +
        "dimension, a class-keyed re-aggregate - map-side partials " +
        "end to end, no window, nothing corpus-sized after the first " +
        "aggregate.",
      details = Seq("hashpartitioning")),
    Entry("q197_quality_classifier",
      "Model-based quality gating at scan speed: the hashed-feature " +
        "linear score is ONE codegen'd aggregate-fold projection per " +
        "document (md5-derived token weights, exact integer sum) - no " +
        "vocabulary join, no UDF, no explode; the only exchange is the " +
        "|sources x langs|-row report aggregate with map-side partials. " +
        "100x corpus: 9.3 s vs sf0.1's 1.1 s - pure scan scaling.",
      details = Seq("ReadSchema")),
    Entry("q198_rp_distortion",
      "JL distortion audit: the 16-d sign projection is ONE native " +
        "graft_matvec node (codegen'd nested loop) and the projected " +
        "norm/dot ride graft_dot over the 16-d arrays - no per-" +
        "component projection columns (16 scalar DotProducts compound " +
        "Catalyst quadratically: 12.7 s of plan overhead at 500 rows), " +
        "no interpreted HOF lambdas (~50x the loop at 100x: 51 s vs " +
        "3.3 s). Everything before the |labels|-row report is a per-row " +
        "projection plus one narrow equi-join on a derived key.",
      details = Seq("graft_matvec")),
    Entry("q199_interval_coalesce",
      "Gaps-and-islands coalescing: ONE hash exchange keyed by supplier " +
        "feeds both ordered window passes (running max-end, then the " +
        "island index) and the island aggregate - no join, no explode, " +
        "no second shuffle below the output ordering. Epoch-us integer " +
        "arithmetic end to end. 10x/100x: 2.3/13.5 s over 600k/6M " +
        "intervals - linear in the scan.",
      details = Seq("hashpartitioning")),
    Entry("q200_position_attribution",
      "U-shaped multi-touch credit: ONE user-keyed join bounds the " +
        "purchase x touch pairs by per-user activity x window (the " +
        "q138 shape), positions ride one window over the per-purchase " +
        "exchange, and credit is exact integer basis points summing to " +
        "10000 per purchase by construction - the |channels|-row report " +
        "is the only aggregate. No lateral probe, no per-purchase " +
        "re-scan.",
      details = Seq("hashpartitioning")),
    Entry("q201_sketch_overlap",
      "Sketch set algebra: the gram relation is scanned ONCE into " +
        "|sources| mergeable HLL sketches (hll_sketch_agg, map-side " +
        "partials), and every pairwise overlap estimate is " +
        "hll_union + inclusion-exclusion over that tiny table - at " +
        "100 TB the exact gram self-join (kept here as the gate-scale " +
        "companion feeding the contract boolean) is the one-off, the " +
        "sketches are what persists and recombines as sources arrive.",
      details = Seq("hll_sketch_agg")),
    Entry("q202_maxsim_rerank",
      "Two-stage late-interaction retrieval: the q41 SRP-LSH join " +
        "recalls candidates sub-linearly, then each pair is re-scored " +
        "by the native graft_maxsim node - ONE codegen'd triple loop " +
        "(sum of max subvector dots), where m^2 DotProduct columns " +
        "would square the q198 Catalyst blow-up and nested HOF lambdas " +
        "run interpreted. Rerank cost at 10x: +1 s over the candidate " +
        "stage's own 23.7 s.",
      details = Seq("graft_maxsim")),
    Entry("q209_banding_curve_sampled",
      "Parameter pre-flight at scale: the K=16 MinHash signature frame " +
        "is computed ONCE (native MinHashSig, scratch-cached) and each " +
        "(bands, rows) grid point re-bands the cached frame - three " +
        "cheap (band-hash, doc_id) exchanges and posting-list pair " +
        "generation, with recall graded against the q36 truth pipeline " +
        "run on the SEEDED doc sample (doc_id % 4 -> 1/16 of pairs, " +
        "cut pushed to the shingle explode). The exact-truth variant " +
        "(the retired q203 ledger entry, kept as " +
        "Dedup.bandingCurveExact) cost 89.9 s of truth join at the " +
        "100x probe vs 23.5 s here, with estimator std err ~ " +
        "sqrt(r(1-r)/n_true_sampled) documented at the query site; " +
        "BandingCurveSpec cross-pins the estimator against the exact " +
        "grid at gate SF. Candidates stay full-corpus - the curve " +
        "tunes the real index, only its grading is sampled.",
      details = Seq("graft_minhash")),
    Entry("q204_score_calibration",
      "Calibration without a global window: the decile cut is " +
        "GlobalIndex's range-exchange ordinal + broadcast-count ntile " +
        "allocation (the q127 machinery), never a single-partition " +
        "ORDER BY ntile; score and heuristic are scan-stage " +
        "projections sharing q197's fold definition. 100x corpus: " +
        "5.2 s - the sort-based ordinal is the only super-scan cost.",
      details = Seq("rangepartitioning")),
    Entry("q205_bootstrap_ci",
      "Error bars in one scan: the doc x 32-replica Poisson-bootstrap " +
        "expansion is a projection (explode + md5 inverse-CDF weight, " +
        "all integers), and map-side partials collapse the shuffle to " +
        "32 rows per task - no per-replica re-scan, no RNG state. " +
        "100x corpus: 2.9 s, pure scan scaling.",
      details = Seq("ReadSchema")),
    Entry("q206_edge_support",
      "Edge-level density (the k-truss building block): everything " +
        "after the operator's O(m^1.5) enumeration is one narrow " +
        "groupBy keyed by the edge, and only the 20-row report leaves " +
        "the cluster. Shares q196's oriented-wedge plan, cell cap, and " +
        "ReusedExchange shape.",
      details = Seq("REPARTITION_BY_NUM")),
    Entry("q207_assortativity",
      "One-number mixing diagnostic: a degree aggregate, one stamp " +
        "join back to the symmetrized edges, and a 6-long mergeable " +
        "exact-moment row (the q88 convention) - map-side partials end " +
        "to end, nothing wider than an edge row on the wire.",
      details = Seq("hashpartitioning")),
    Entry("q208_ktruss",
      "Iterative edge peeling under the bounded-rounds contract " +
        "(q105/q134's): each round is one O(m^1.5) enumeration over " +
        "the SHRINKING checkpointed edge set plus an edge-keyed " +
        "support aggregate; driver state is three longs per round. " +
        "The convergence trace is the output, so the gate stays " +
        "meaningful where the truss empties.",
      details = Seq("REPARTITION_BY_NUM")),
    Entry("q219_community_quality",
      "Grading the LPA partition (GraphStats.communityQuality): ONE " +
        "edge-label equi-join against the node-sized labeling, two " +
        "key-bounded grouped counts (intra + the exploded cut, both " +
        "with map-side partials), a 1-row broadcast edge total - " +
        "nothing beyond the LPA rounds themselves shuffles more than " +
        "the edge list, and the report is |communities| rows. " +
        "Modularity/conductance are single fixed-shape double " +
        "expressions over exact BIGINT counts (the q112 doctrine), so " +
        "even the ratios hash-match. Decade probes 4.5 / 9.3 / 50.8 s " +
        "(the shared jaccard posting-list stage dominates - the q65 " +
        "cost class)."),
    Entry("q221_taint_rank",
      "Personalized PageRank from the contamination seeds " +
        "(PageRank.runPersonalized): the restart vector is the only " +
        "change to the q105 plan - edges persist PRE-PARTITIONED by " +
        "src once, each of the 3 rounds shuffles only the node-sized " +
        "rank frame keyed by dst, lineage cut per round. Exact integer " +
        "micro-units end to end, so the oracle unrolls the identical " +
        "recurrence. Decade probes 3.8 / 6.0 / 50.6 s (jaccard-stage-" +
        "dominated, the q105/q219 family)."),
    Entry("q222_source_quantile_norm",
      "Cross-source quantile normalization with NO per-source window: " +
        "both rank assignments are GlobalIndex distributed sorts " +
        "(per-source ranks = source-major global ordinal minus a " +
        "per-source offset), the offset/count frames are |sources| " +
        "rows, the pooled lookup is ONE integer equi-join on the " +
        "matched rank. All-integer ppm arithmetic keeps products " +
        "under 2^63 to ~9e12 docs. Decade probes 2.5 / 3.1 / 4.4 s."),
    Entry("q223_rendezvous_shards",
      "Consistent re-shard planning: the x9 hash explode is a " +
        "stateless constant-fan projection, the per-doc argmax is one " +
        "map-side-combining max(struct) keyed by doc (the oracle's " +
        "row_number without its window), and the report is k rows. " +
        "The rendezvous property (k->k+1 moves only into the new " +
        "shard) is asserted BY the output: n_moved_in is zero for the " +
        "original shards by construction. Decade probes " +
        "1.9 / 1.8 / 2.6 s - flat."),
    Entry("q224_cluster_split",
      "Leakage-free splitting: split assignment is a projection over " +
        "CC's cluster map (group = cluster, singletons = self), and " +
        "both leakage audits are pair-sized equi-joins against the " +
        "doc-sized assignment frame - the 3-row report carries the " +
        "proof (cluster-rule cross-split pairs = 0 by construction, " +
        "the naive rule's counted leak beside it). Decade probes " +
        "4.9 / 8.2 / 39.8 s (CC-stage-dominated)."),
    Entry("q226_lm_next_token",
      "Held-out LM eval with no floats: KN's denominator depends only " +
        "on the history word, so the predicted continuation is an " +
        "exact integer argmax over kn_num - one map-side-combining " +
        "min(struct) per w1 over the vocab^2-bounded model, then a " +
        "test-bigram join against the vocab-sized prediction table. " +
        "Train/test discipline via the q218 nibble split inside the " +
        "same plan. Decade probes 2.5 / 3.1 / 4.5 s."),
    Entry("q230_semantic_decon",
      "Semantic decontamination at linear cost: the md5-nibble split " +
        "assigns train/eval INSIDE the plan, adaptive-k k-means cells " +
        "bound the candidate set, and the cross-split pair join's " +
        "shuffle key IS the cluster id - |train_c| x |eval_c| per " +
        "cell under the KmTarget curve where the naive audit is " +
        "|train| x |eval| over the corpus. Same recall caveat as " +
        "q103 (cell-boundary pairs), with q63/q218 as the exact " +
        "n-gram backstop. Decade probes 2.5 / 3.5 / 12.6 s."),
    Entry("q231_winnowing",
      "Sparsified gram index with a detection GUARANTEE: the " +
        "window-min selection is a pure codegen'd projection (shingle " +
        "-> md5 -> sliding min -> distinct; no shuffle until the " +
        "index exists), the inverted index carries ~2/(w+1)=0.4 of " +
        "the positional explode, and any shared run of >= 11 tokens " +
        "is caught with certainty - MinHash's coin flip replaced by " +
        "MOSS's pigeonhole. The pair join and df-cap aggregate are " +
        "the only exchanges, both on the sparsified index. Decade " +
        "probes 3.0 / 4.0 / 10.2 s."),
    Entry("q234_dsir_select",
      "Targeted selection with a bounded model: the 256-bucket " +
        "hashed-feature model is ONE token-explode aggregate with " +
        "256x2 keys, broadcast back onto the token stream (map-side " +
        "join, no shuffle), per-doc fold with combine, " +
        "TakeOrderedAndProject finish. Integer lift weights via " +
        "two-step ppm quantization - every product under 2^63 at any " +
        "corpus size, no log-likelihood float. Decade probes " +
        "2.0 / 1.8 / 16.7 s."),
    Entry("q240_vocab_coverage",
      "Coverage curve without a single-task window: the cumulative " +
        "over (count desc, token) is the distributed PrefixSum " +
        "range-shuffle (one exchange over the vocab-sized frame), " +
        "percent cuts are cross-multiplications (cum*100 >= pct*tot, " +
        "no division), and vocab_size/covered both come from ONE " +
        "bounded aggregate over the 3-row percent fan-out."),
    Entry("q244_cdc_chunks",
      "Content-defined chunking as a scan-stage projection: " +
        "boundaries from the native CdcBoundaries expression (18th " +
        "node, one codegen'd pass maintaining the gram hash by a TRUE " +
        "rolling update - O(n) multiplies, residues identical to the " +
        "per-position fold, spec-pinned), chunk spans derived " +
        "declaratively, and the only exchange is the |sources|-keyed " +
        "savings rollup with its distinct-chunk count. The insertion " +
        "re-synchronization property is spec-pinned; expected chunk " +
        "length tracks the divisor. Decade probes 0.9 / 1.2 / 2.6 s."),
    Entry("q247_label_noise",
      "Mislabel mining in ONE exchange: the |labels|-row centroid " +
        "table (exact integer Lloyd-update arithmetic) broadcasts " +
        "into a x|labels| fan-out, and a SINGLE map-side-combining " +
        "aggregate keyed by vector carries BOTH verdict pieces - the " +
        "lexicographic argmin (min(struct)) and the own-label " +
        "distance as a conditional max - where the first cut paid two " +
        "aggregates plus an n-sized re-join. 100x probe 2.4 s."),
    Entry("q255_ann_cost",
      "The cost side of the ANN operating points in the hash-gated " +
        "ledger: each run's candidate stage (the audited sub-linear " +
        "plans of q41/q229/q42) folds into one count, and the " +
        "exhaustive-pair fraction is exact ppm - a knob change that " +
        "silently degrades candidate pruning now fails the " +
        "differential instead of hiding in a header comment."))

  /** Run query `name` and return (label, `explain("formatted")`) for
    * every plan it executed, in order. Dataset actions, localCheckpoint
    * included, go through `withAction`, so one QueryExecutionListener
    * sees the build phase as it really runs; the returned DataFrame is
    * then executed in full (`Sessions.runFully`, which is not an action)
    * and its final plan appended as "final". Releases the run's scratch. */
  private[graft] def capture(spark: SparkSession, name: String,
      sfDir: String): Seq[(String, String)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = seen.add(funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    bridge.drainListenerBus(spark) // no earlier run's events
    spark.listenerManager.register(listener)
    try {
      val df = SparkEntry.queries(name)(spark, sfDir)
      Sessions.runFully(df) // execute so AQE settles on the final plan
      bridge.drainListenerBus(spark)
      (seen.asScala.toSeq :+ ("final" -> df.queryExecution)).map {
        case (label, qe) => label -> qe.explainString(FormattedMode)
      }
    } finally {
      spark.listenerManager.unregister(listener)
      Sessions.releaseAll(spark)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    try {
      if (args.length >= 4) dumpEach(spark, sfDir, args(1), args(2), args(3))
      else audit(spark, sfDir, if (args.length > 1) args(1) else "PLANS.md")
    } finally spark.stop()
  }

  private def dumpEach(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, names: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.split(",").foreach { qn =>
      try {
        val plans = capture(spark, qn, sfDir)
        val txt = plans.zipWithIndex.map { case ((label, plan), i) =>
          s"=== ${i + 1}/${plans.size} $label ===\n$plan"
        }.mkString("\n")
        val out = java.nio.file.Paths.get(outDir, s"${qn}_$suffix.txt")
        java.nio.file.Files.writeString(out, txt)
        println(s"PLANS $qn -> $out")
      } catch {
        case scala.util.control.NonFatal(e) =>
          println(s"PLANS $qn: FAIL (${e.getMessage})")
      }
    }
  }

  private def audit(spark: SparkSession, sfDir: String, out: String): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of headline queries\n\n")
    sb.append(s"Generated by `sbt 'runMain graft.Plans'` at `$sfDir`. ")
    sb.append("Each section: what the plans must show to be the RIGHT " +
      "plans at 100 TB, then every plan tree the query executed at the " +
      "audit SF, in order: one per action run while the query was " +
      "built (a scratch `localCheckpoint`, a `count`, a `collect`), " +
      "then the final (post-AQE) plan of the returned DataFrame. Node details " +
      "(ReadSchema/PushedFilters) are in `explain(\"formatted\")`, " +
      "trimmed here to the tree.\n\n")
    entries.foreach { e =>
      // getOption-style save: a conf key with no default must be
      // UNSET on restore, not read eagerly (which would throw before
      // the query even runs)
      val saved = e.confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
      e.confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val plans = try capture(spark, e.name, sfDir) finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      sb.append(s"## ${e.name}\n\n${e.note}\n\n")
      plans.zipWithIndex.foreach { case ((label, plan), i) =>
        val tree = plan.split("\n\n")(0)
        sb.append(s"### ${i + 1}/${plans.size} `$label`\n\n```\n$tree\n```\n\n")
      }
      if (e.details.nonEmpty) {
        val picked = plans.flatMap(_._2.linesIterator)
          .filter(l => e.details.exists(l.contains)).distinct
        if (picked.nonEmpty)
          sb.append(s"Selected node details:\n\n```\n" +
            picked.mkString("\n") + "\n```\n\n")
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"wrote $out (${entries.size} queries)")
  }
}
