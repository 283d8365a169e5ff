package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scaling probe for the corpus operators: times the
  * linear-output pipeline ops over 1×/2×/4×/8×… corpora and prints one
  * JSON line per (op, scale) so the growth curve is measurable — and,
  * given an output path, writes the same lines plus a ratio summary as a
  * per-round artifact (`SCALEPROBE_r{N}.json`). ScaleProbeSpec asserts the
  * sub-linearity bound per test run, so the scaling claim is re-checked
  * every round instead of living only in README prose.
  *
  * The scaled corpus is K independent shards: copy k prefixes every token
  * with `ck_`, so shards share no vocabulary and the duplicate/near-dup
  * structure per shard is exactly the base corpus's. A linear-time
  * operator should then scale ~linearly in K (modulo fixed scheduling
  * overhead); anything superlinear is a plan problem, not a data
  * property.
  *
  * `runMain graft.tools.ScaleProbe [sfDir] [maxK] [outFile]`
  */
object ScaleProbe {

  /** One probe row. `ld0`/`ld1` stamp the host's 1-min loadavg at the
    * start and end of the row's timed iterations: a contaminated rung
    * (ambient load inflating the min) is then machine-detectable in the
    * committed artifact instead of being excused by prose — on this
    * 32-core box the probe itself holds loadavg well under ~1.5× cores,
    * so a start value far above that means another process owned the
    * machine when the row began. */
  final case class Probe(op: String, k: Int, rows: Long, sec: Double,
      ld0: Double, ld1: Double)

  private def loadAvg1(): Double = graft.functions.HostStats.loadAvg1

  def scaledCorpus(docs: DataFrame, k: Int): DataFrame =
    (0 until k).map { i =>
      docs.select(
        // id * k + i is collision-free for ANY base id distribution
        (col("doc_id") * k + i).as("doc_id"),
        // prefix every token with the shard tag (any whitespace run
        // separates tokens downstream, so normalize \s+): shards are
        // vocabulary-disjoint by construction
        regexp_replace(concat(lit(s"c${i}_"), col("text")), "\\s+", s" c${i}_")
          .as("text"))
    }.reduce(_ unionByName _)

  /** The probed operator suite over a materialized corpus frame. */
  def ops(docs: DataFrame): Seq[(String, () => Long)] = Seq(
    ("exact_dedup", () =>
      graft.operators.Dedup.exactDupGroups(docs, "doc_id", "text").count()),
    ("minhash_lsh", () =>
      graft.operators.Dedup.minHashLsh(docs, "doc_id", "text",
        shingleN = 3, k = 32, bands = 8, threshold = 0.5).count()),
    ("dedup_corpus", () =>
      graft.operators.Dedup.dedupCorpus(docs, "doc_id", "text").count()),
    ("pack_sequences", () =>
      graft.operators.Packing.packSequences(docs, "doc_id",
        size(split(col("text"), "\\s+")), budget = 512L).count()),
    ("decontaminate", () =>
      graft.operators.Decontaminate.contaminationReport(
        docs, docs.filter(col("doc_id") % 97 === 0), "doc_id", "text").count()),
    // the one ITERATIVE op in the suite: round count is diameter-bound
    // (constant per shard by construction), so growth here measures the
    // per-round shuffle volume, not an iteration blow-up
    ("dup_clusters", () =>
      graft.operators.Components.dupClusters(docs, "doc_id", "text").count()),
    // fixed query set against a growing corpus: output stays queries×k,
    // so this measures pure corpus-side stat/candidate cost (q113 shape)
    ("bm25", () =>
      graft.operators.Retrieval.bm25TopK(docs,
        docs.filter(col("doc_id") < 3), "doc_id", "text", k = 10).count()),
    // CDC run-collapse over entities that GROW with the corpus (5 events
    // per entity) — per-entity windows must parallelize, never serialize
    ("scd2", () =>
      graft.operators.History.scd2(
        docs.select(expr("doc_id DIV 5").as("entity"),
          col("doc_id").as("event_id"),
          substring(col("text"), 1, 8).as("attr"),
          timestamp_millis(col("doc_id") * 60000L).as("ts")),
        "entity", "attr", "ts", "event_id").count()),
    // cross-split gram overlap: both sides grow with the corpus (q116)
    ("novelty", () =>
      graft.operators.Decontaminate.crossSplitNovelty(
        docs.filter(col("doc_id") % 11 === 0),
        docs.filter(col("doc_id") % 11 =!= 0), "doc_id", "text", n = 3).count()),
    // DSIR weights: both passes (fit + score) grow with the corpus; the
    // broadcast weight table is nBuckets-bounded, so growth here measures
    // the two bucket-keyed aggs and the doc-keyed sum (q162 shape)
    ("dsir_weights", () =>
      graft.operators.Sampling.dsirWeights(docs,
        docs.filter(col("doc_id") % 7 === 0), "doc_id", "text").count()),
    // Bloom-prefiltered twin of the `decontaminate` row (same bench
    // slice, same n): the ratio between the two rows at each k is the
    // prefilter's dividend; growth must stay the exact row's or better
    ("bloom_decon", () =>
      graft.operators.Decontaminate.bloomContaminationReport(
        docs, docs.filter(col("doc_id") % 97 === 0), "doc_id", "text",
        n = 8, mBits = 1L << 20, k = 5).count()),
    // WARC build+walk round-trip: 64 blobs regardless of k, so blob SIZE
    // grows with the corpus — parse throughput per task is what's probed
    // (the crawl-file contract: tasks own whole files)
    ("warc_pipeline", () => {
      val s = docs.sparkSession
      graft.io.WarcIngest.warcResponsesBinary(s,
        graft.io.WarcIngest.syntheticWarcFiles(s, docs, nFiles = 64)).count()
    }),
    // the .warc.gz twin (r15): same 64-blob geometry, every record its
    // own gzip member — the ratio to warc_pipeline at each k is the
    // deflate+inflate tax, and its growth must track the plain row's
    // (member work is per-record, embarrassingly parallel)
    ("warc_gz_pipeline", () => {
      val s = docs.sparkSession
      graft.io.WarcIngest.warcResponsesBinary(s,
        graft.io.WarcIngest.syntheticWarcFilesGz(s, docs, nFiles = 64)).count()
    }),
    // HTML render+extract: two map-only stages, no shuffle — the
    // per-page tag-walk throughput curve
    ("html_extract", () => {
      val s = docs.sparkSession
      graft.operators.HtmlExtract.extractMainContent(s,
        graft.operators.HtmlExtract.syntheticHtmlCorpus(s, docs),
        "doc_id", "html").count()
    }),
    // link-graph build: render → out-link walk (map-only) → the
    // target-keyed anchor aggregation — the one shuffle carries
    // post-partial rows, so growth measures extraction throughput plus
    // a targets-sized agg (q185 shape)
    ("link_graph", () => {
      val s = docs.sparkSession
      val pages = graft.operators.HtmlExtract.syntheticHtmlCorpus(s, docs)
        .withColumn("base_uri", concat(lit("https://h"),
          col("doc_id") % 13, lit(".example.com/d/"), col("doc_id")))
      graft.operators.LinkGraph.anchorIndex(
        graft.operators.LinkGraph.outLinksBinary(
          s, pages, "doc_id", "html", "base_uri"), "doc_id").count()
    }),
    // redirect resolution (q188 shape): the suite's join-heaviest op —
    // ⌈log₂ 32⌉ = 5 equi-self-joins regardless of corpus size, so growth
    // measures per-round shuffle volume, never an iteration blow-up
    // (the dup_clusters argument, specialized to functional graphs)
    ("redirects", () => {
      val s = docs.sparkSession
      graft.operators.Redirects.resolve(
        graft.operators.Redirects.syntheticFetchLog(s, docs),
        "url", "location").count()
    }),
    // frontier build end to end (q190 shape): sitemap explode ∪
    // distinct out-links → compiled robots gate (codegen'd CASE, no
    // shuffle) → per-host politeness window — growth measures the
    // discovery explode plus the host-keyed window walk
    ("frontier", () => {
      val s = docs.sparkSession
      val sm = graft.operators.Sitemap.parseBinary(s,
        graft.operators.Sitemap.syntheticSitemapCorpus(s, docs))
        .select(col("loc").as("url"), col("priority"))
      val pages = graft.operators.HtmlExtract.syntheticHtmlCorpus(s, docs)
        .withColumn("base_uri", concat(lit("https://h"),
          col("doc_id") % 13, lit(".example.com/d/"), col("doc_id")))
      val links = graft.operators.LinkGraph.outLinksBinary(
          s, pages, "doc_id", "html", "base_uri")
        .select(col("target").as("url"), lit(0.5).as("priority")).distinct()
      val policy =
        "User-agent: graftbot\nDisallow: /p/\n\nUser-agent: *\nDisallow: /\n"
      graft.operators.Frontier.schedule(
        sm.unionByName(links).where(graft.operators.Robots.policyFilter(
          policy, "GraftBot", col("url"))),
        "url", "priority", 5.0).count()
    }),
    // image near-dup end to end (q206 shape, splitmix64 fixture — the
    // variant whose near-dup density stays cluster-bounded like real
    // corpora): encode + decode + dHash are map-only per-image work,
    // then ONLY 8-byte fingerprints enter the chunk-bucket equi-join —
    // growth measures codec throughput plus a pairs-sized join, never
    // pixels through a shuffle
    ("image_neardup", () => {
      val s = docs.sparkSession
      graft.multimodal.ImageHash.nearDupPairs(s,
        graft.multimodal.BinaryOps.syntheticNearDupJpegCorpusProbe(
          s, docs),
        "doc_id", "payload", maxDist = 3).count()
    }),
    // audio near-dup end to end (q209 shape, splitmix64 fixture):
    // synth + RIFF/PCM decode + the per-band phasor-recurrence DFT are
    // map-only per-recording work, then ONLY 8-byte fingerprints enter
    // the chunk-bucket equi-join — growth measures decode+DFT
    // throughput plus a pairs-sized join, never PCM through a shuffle
    ("audio_neardup", () => {
      val s = docs.sparkSession
      graft.multimodal.AudioHash.nearDupPairs(s,
        graft.multimodal.AudioHash.syntheticNearDupWavCorpusProbe(
          s, docs),
        "doc_id", "payload", maxDist = 3).count()
    }))

  /** K vocabulary-disjoint embedding shards: ids offset collision-free,
    * replicas scaled by (1 + i/100) — a deterministic perturbation that
    * moves L2 cell assignment without needing randomness. */
  def scaledEmbeddings(emb: DataFrame, k: Int): DataFrame =
    (0 until k).map { i =>
      emb.select((col("vec_id") * k + i).as("vec_id"),
        transform(col("embedding"),
          x => x * (lit(1.0) + lit(i.toDouble) / lit(100.0))).as("embedding"))
    }.reduce(_ unionByName _)

  /** Fixed event-stream derivation shared by the scd2 probes: 5 events
    * per entity, so entities grow with the corpus. */
  private def eventsOf(docs: DataFrame): DataFrame =
    docs.select(expr("doc_id DIV 5").as("entity"),
      col("doc_id").as("event_id"),
      substring(col("text"), 1, 8).as("attr"),
      timestamp_millis(col("doc_id") * 60000L).as("ts"))

  /** STORE-SERVING probes — the central store-lifecycle claim measured
    * instead of asserted: the persisted index and SCD2 store are built
    * OUTSIDE the timings (the amortized corpus cost) with shards/buckets
    * scaled with k so each shard/bucket holds constant data (the sizing
    * contract both stores document). The timed ops are a FIXED query set
    * and FIXED-SIZE batches; their cost must track the queries/batch, not
    * the stored corpus — appends cost the batch, serving reads probed
    * shards and affected buckets only.
    */
  /** `sizeK` sets the stores' shard/bucket/cell counts (normally = k,
    * the per-shard-constant sizing contract). Passing a FIXED sizeK for
    * every k is the control experiment that separates the two candidate
    * cost terms of the serving/maintenance probes: under the contract
    * sizing, file/directory counts double with k while per-dir data is
    * constant; under fixed sizing, file counts are constant while
    * per-dir data grows 16× — whichever ramp the op's wall time follows
    * is its real cost driver. */
  def servingOps(spark: SparkSession, docs: DataFrame, emb: DataFrame,
      tmpDir: String, k: Int, sizeK: Int): Seq[(String, () => Long)] = {
    val idxDir = s"$tmpDir/idx_x$k"
    graft.operators.Indexing.indexBuild(docs, "doc_id", "text", idxDir,
      nShards = 4 * sizeK)
    val scdDir = s"$tmpDir/scd2_x$k"
    graft.operators.History.scd2Build(eventsOf(docs), "entity", "attr",
      "ts", "event_id", scdDir, nBuckets = 8 * sizeK)
    val annDir = s"$tmpDir/ann_x$k"
    // ANN cells cap at 256 (the maxK=16 geometry): under fixed sizing the
    // centroids are drawn from the SMALLEST corpus too, and the base
    // embedding table holds 500 rows — 16*32 = 512 cells is undrawable at
    // k=1. Geometry stays constant across k (all fixed mode requires);
    // k>=32 contract rungs likewise cap (2x data per cell at k=32, noted
    // in the artifact rather than failing the whole run).
    graft.operators.VectorStore.annBuild(emb, "vec_id", "embedding", annDir,
      nCells = math.min(16 * sizeK, 256))
    val lmDir = s"$tmpDir/lm_x$k"
    graft.operators.LmStore.lmBuild(docs, "doc_id", "text", lmDir,
      nShards = 4 * sizeK)
    val ccDir = s"$tmpDir/cc_x$k"
    graft.operators.ClusterStore.ccBuild(docs, "doc_id", "text", ccDir,
      nBuckets = 8 * sizeK)
    val spanDir = s"$tmpDir/span_x$k"
    graft.operators.SpanStore.spanStoreBuild(docs, "doc_id", "text", spanDir,
      windowN = 8, nShards = 4 * sizeK)
    val dsirDir = s"$tmpDir/dsir_x$k"
    // the fit's "geometry" is its bucket count — scaled like the other
    // stores' shard counts so both probe modes exercise it, though the
    // persisted state stays ≤ 2·nBuckets rows by construction
    graft.operators.DsirStore.dsirBuild(
      docs.filter(col("doc_id") % 7 === 0), docs, "text", dsirDir,
      nBuckets = 64 * sizeK)
    // The fixed query set and the fixed batch are PINNED once per scale
    // (driver-sized: 3 and 50 rows). Deriving them inside the timed
    // thunks by filtering the scaled corpus parquet would put an O(k)
    // corpus scan inside every "fixed-batch" timing — the r7 artifact's
    // residual upward trend on the apply probes was largely this harness
    // scan, not store behavior. The stores' own reads are what the
    // timings must measure.
    // the c0-shard copies of base docs 0,1,2 — fixed at every scale
    val queries = docs.filter(col("doc_id").isin(0L, k.toLong, 2L * k))
      .localCheckpoint()
    val batchBase = docs.filter(col("doc_id") < 50).localCheckpoint()
    val batchBase5k = docs.filter(col("doc_id") < 5000).localCheckpoint()
    val embQueries = emb.filter(col("vec_id") < 3).localCheckpoint()
    var seq = 0L // fresh ids per timed call (iters > 1 re-invokes the thunk)
    var idxCompacted = false // postc probe folds the index store ONCE per k
    var lmCompacted = false
    var ccCompacted = false
    var spanCompacted = false
    Seq(
      ("bm25_from_index", () =>
        graft.operators.Retrieval.bm25FromIndex(spark, queries,
          "doc_id", "text", idxDir, k = 10).count()),
      ("index_append", () => {
        seq += 1
        val batch = batchBase
          .select((-(lit(seq) * 1000 + col("doc_id")) - 1).as("doc_id"),
            col("text"))
        graft.operators.Indexing.indexAppend(batch, "doc_id", "text", idxDir)
        batch.count()
      }),
      // full stats surface folded across the build + appended generations:
      // per-generation heads fold by sum, so the read cost tracks the
      // surviving vocabulary, not the generation count
      ("index_stats", () =>
        graft.operators.Indexing.indexStats(spark, idxDir, minDf = 5L,
          postingCap = 10).count()),
      // the row that demonstrates compaction actually RESTORES append
      // cost: fold the accumulated generations once (first iteration —
      // its time is discarded by the min), then each later iteration
      // times a pure append against the freshly compacted store
      ("index_append_postc", () => {
        if (!idxCompacted) {
          graft.operators.Indexing.indexCompact(spark, idxDir)
          idxCompacted = true
        }
        seq += 1
        val batch = batchBase
          .select((-(lit(seq) * 1000 + col("doc_id")) - 1).as("doc_id"),
            col("text"))
        graft.operators.Indexing.indexAppend(batch, "doc_id", "text", idxDir)
        batch.count()
      }),
      ("scd2_apply", () => {
        seq += 1
        val batch = eventsOf(batchBase)
          .withColumn("event_id", -(lit(seq) * 1000 + col("event_id")) - 1)
        graft.operators.History.scd2Apply(spark, scdDir, batch,
          "entity", "attr", "ts", "event_id")
        batch.count()
      }),
      // fixed query set against a growing cell store: nCells scales with
      // k (the sizing contract), so the probed nProbe cells hold constant
      // data and serving cost stays query-shaped
      ("ann_search", () =>
        graft.operators.VectorStore.annSearch(spark,
          embQueries, "vec_id", "embedding", annDir,
          k = 10, nProbe = 4).count()),
      // fixed batch scored against the persisted DSIR fit: one pass over
      // the batch plus a broadcast of the nBuckets-row weight table —
      // batch-bound in BOTH regimes (the fit inputs are never re-read,
      // and the stored state is ≤ 2·nBuckets rows regardless of how much
      // text was fitted)
      ("dsir_score", () =>
        graft.operators.DsirStore.dsirScore(spark, batchBase,
          "doc_id", "text", dsirDir).count()),
      // fixed scored batch against a growing register: count scans prune
      // to the batch's vocab shards (constant data per shard by the same
      // contract); V sums the per-generation vstat novelty rows
      ("lm_score", () =>
        graft.operators.LmStore.lmScore(spark,
          batchBase, "doc_id", "text", lmDir).count()),
      // fixed-size batch appended to the growing register: count passes
      // cost the batch; the V delta is a membership probe pruned to the
      // batch vocabulary's own token shards, and the append-only guard
      // reads only the batch ids' docreg buckets
      ("lm_append", () => {
        seq += 1
        val batch = batchBase
          .select((-(lit(seq) * 1000 + col("doc_id")) - 1).as("doc_id"),
            col("text"))
        graft.operators.LmStore.lmAppend(spark, batch, "doc_id", "text", lmDir)
        batch.count()
      }),
      // isolates generation-listing growth from real per-append cost: the
      // lm_append probes above accumulate one generation per timed call
      // and never compact, so their directory enumeration grows with the
      // iteration count × k — this row folds the register once (first
      // iteration, discarded by the min) and times appends against the
      // compacted store (the index_append_postc pattern)
      ("lm_append_postc", () => {
        if (!lmCompacted) {
          graft.operators.LmStore.lmCompact(spark, lmDir)
          lmCompacted = true
        }
        seq += 1
        val batch = batchBase
          .select((-(lit(seq) * 1000 + col("doc_id")) - 1).as("doc_id"),
            col("text"))
        graft.operators.LmStore.lmAppend(spark, batch, "doc_id", "text", lmDir)
        batch.count()
      }),
      // fixed probe batch (fresh ids, text duplicating 50 stored docs)
      // against a growing span store: the store read is path-pruned to
      // the batch's touched shards and semi-filtered by the batch's
      // broadcast window-hash set BELOW the count fold, so probe cost
      // must stay batch-shaped as the stored corpus grows
      ("span_probe", () =>
        graft.operators.SpanStore.duplicatedSpansIncremental(spark,
          batchBase.select((-col("doc_id") - 1).as("doc_id"), col("text")),
          "doc_id", "text", spanDir).count()),
      // fixed-size batch appended as a flat segment: window expansion and
      // counts cost the batch; the append-only guard reads the doc
      // registry (corpus-sized ids, tiny rows)
      ("span_append", () => {
        seq += 1
        val batch = batchBase
          .select((-(lit(seq) * 1000 + col("doc_id")) - 1).as("doc_id"),
            col("text"))
        graft.operators.SpanStore.spanStoreAppend(batch, "doc_id", "text",
          spanDir)
        batch.count()
      }),
      // the compaction-isolation row (index_append_postc pattern): fold
      // the accumulated span generations once, then time appends against
      // the compacted store
      ("span_append_postc", () => {
        if (!spanCompacted) {
          graft.operators.SpanStore.spanStoreCompact(spark, spanDir)
          spanCompacted = true
        }
        seq += 1
        val batch = batchBase
          .select((-(lit(seq) * 1000 + col("doc_id")) - 1).as("doc_id"),
            col("text"))
        graft.operators.SpanStore.spanStoreAppend(batch, "doc_id", "text",
          spanDir)
        batch.count()
      }),
      // the span store's MAINTENANCE CADENCE unit, timed whole: absorb
      // one fresh batch, then fold the store's generations back to one
      // (append alone is the span_append row; the fold is the expensive
      // step at crawl scale — it rewrites the surviving window counts,
      // so its absolute cost is store-sized BY DESIGN and what must stay
      // flat is the cost per stored row / per fold at fixed geometry)
      ("span_compact", () => {
        seq += 1
        val batch = batchBase
          .select((-(lit(seq) * 1000 + col("doc_id")) - 1).as("doc_id"),
            col("text"))
        graft.operators.SpanStore.spanStoreAppend(batch, "doc_id", "text",
          spanDir)
        graft.operators.SpanStore.spanStoreCompact(spark, spanDir)
        batch.count()
      }),
      // fixed-size batch absorbed into the growing cluster store: edge
      // derivation reads only the batch fingerprints' hub shards, old
      // connectivity enters as endpoint-bucket point lookups resolved
      // through the merge ledger, and the iterative CC runs over a
      // batch-sized subgraph — no read scales with the stored corpus
      ("cc_apply", () => {
        seq += 1
        val batch = batchBase
          .select((-(lit(seq) * 1000 + col("doc_id")) - 1).as("doc_id"),
            col("text"))
        graft.operators.ClusterStore.ccApply(spark, ccDir, batch,
          "doc_id", "text")
        batch.count()
      }),
      // same isolation for the cluster store: cc_apply's labelsPruned/
      // hubsPruned guards enumerate gens × buckets directories, and the
      // probe harness never compacts — if the residual growth is listing
      // overhead, this row measures flat; if it survives compaction, the
      // per-apply constant itself trends and needs profiling
      ("cc_apply_postc", () => {
        if (!ccCompacted) {
          graft.operators.ClusterStore.ccCompact(spark, ccDir)
          ccCompacted = true
        }
        seq += 1
        val batch = batchBase
          .select((-(lit(seq) * 1000 + col("doc_id")) - 1).as("doc_id"),
            col("text"))
        graft.operators.ClusterStore.ccApply(spark, ccDir, batch,
          "doc_id", "text")
        batch.count()
      }),
      // the amortization row for cc_apply's per-batch constant (~2-4s of
      // fixed job-count overhead at 50 docs): the SAME apply path at a
      // realistic 5K-doc maintenance batch — per-doc cost is this row's
      // seconds / 5000. Runs last so its absorbed docs never sit under
      // the other stores' timings; ids live in their own -(seq*10^6)
      // range so they can never collide with the 50-doc batches
      ("cc_apply_5k", () => {
        seq += 1
        val batch = batchBase5k
          .select((-(lit(seq) * 1000000 + col("doc_id")) - 1).as("doc_id"),
            col("text"))
        graft.operators.ClusterStore.ccApply(spark, ccDir, batch,
          "doc_id", "text")
        batch.count()
      }))
  }

  /** Times every op at every scale in `ks`; `iters` timed runs per (op,
    * k), min reported (single runs on a shared host inflate under ambient
    * load). The scaled corpus is materialized to parquet first so
    * generation cost is outside the op timings and every op reads the
    * same files.
    */
  def run(spark: SparkSession, base: DataFrame, baseEmb: DataFrame,
      ks: Seq[Int], tmpDir: String, iters: Int = 1,
      sizeOf: Int => Int = identity): Seq[Probe] =
    ks.flatMap { k =>
      // drop the PREVIOUS scales' corpora and stores before timing this
      // one: accumulated files from every smaller k otherwise tax the OS
      // page cache and dirty-page writeback at exactly the largest
      // scales, which reads as fake superlinear growth in the ratios
      val tmp = new java.io.File(tmpDir)
      if (tmp.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        tmp.listFiles().foreach(rm)
      }
      val path = s"$tmpDir/docs_x$k"
      scaledCorpus(base, k).write.mode("overwrite").parquet(path)
      val docs = spark.read.parquet(path)
      val epath = s"$tmpDir/emb_x$k"
      scaledEmbeddings(baseEmb, k).write.mode("overwrite").parquet(epath)
      val emb = spark.read.parquet(epath)
      (ops(docs) ++ servingOps(spark, docs, emb, tmpDir, k, sizeOf(k)))
        .map { case (name, op) =>
        // Untimed GC housekeeping between ops — the Bench r10 mechanism
        // applied to the probe: a rung runs ~25 ops × iters jobs whose
        // dead localCheckpoint/broadcast references the ContextCleaner
        // can only reclaim after a driver GC notices the weak refs; left
        // alone, the debt grows ACROSS rungs and a full collection lands
        // inside whichever serving row is being timed at the largest k —
        // which reads as a fake fixed-geometry knee (r11: ann_search
        // 0.92→4.42 s and lm_score 0.69→1.20 s at the k=32 rung, neither
        // reproducible in a clean session at the same data scale; a
        // resident service would schedule exactly this housekeeping
        // off-path)
        System.gc()
        // loadavg at row start/end: the machine-checkable contamination
        // evidence the artifact carries per row (see [[Probe]])
        val ld0 = loadAvg1()
        var rows = 0L
        val secs = (1 to iters).map { _ =>
          val t0 = System.nanoTime()
          rows = op()
          (System.nanoTime() - t0) / 1e9
        }
        Probe(name, k, rows, secs.min, ld0, loadAvg1())
      }
    }

  def jsonLine(p: Probe): String =
    f"""{"probe":"${p.op}","k":${p.k},"rows":${p.rows},"sec":${p.sec}%.2f,"ld":[${p.ld0}%.2f,${p.ld1}%.2f]}"""

  /** One summary line per op: wall-time ratio between the largest and
    * smallest probed scale vs the data ratio — sub-linear means
    * sec_ratio < k_ratio. A floor on the denominator keeps scheduling
    * noise out of the ratio on near-instant ops.
    */
  def summaryLines(probes: Seq[Probe]): Seq[String] = {
    probes.groupBy(_.op).toSeq.sortBy(_._1).map { case (op, ps) =>
      val lo = ps.minBy(_.k)
      val hi = ps.maxBy(_.k)
      val ratio = hi.sec / math.max(lo.sec, 0.15)
      f"""{"summary":"$op","k_ratio":${hi.k / lo.k},"sec_ratio":$ratio%.2f,"sec_lo":${lo.sec}%.2f,"sec_hi":${hi.sec}%.2f}"""
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val maxK = if (args.length > 1) args(1).toInt else 8
    val outFile = if (args.length > 2) Some(args(2)) else None
    val spark = graft.LocalSession()

    val base = graft.Tables.documents(spark, sfDir)
    val baseEmb = graft.Tables.embeddings(spark, sfDir)
    val ks = Iterator.iterate(1)(_ * 2).takeWhile(_ <= maxK).toSeq
    // 4th arg "fixed": pin the stores' shard/cell/bucket sizing at the
    // largest scale's value for EVERY k (the control experiment — see
    // servingOps); default is the per-shard-constant contract sizing
    val sizeOf: Int => Int =
      if (args.length > 3 && args(3) == "fixed") _ => maxK else identity
    // min-of-N timing: consecutive identical-code runs at min-of-2 swing
    // ratios by ±0.3-0.5 on these 0.4-4 s absolutes (JVM/GC/scheduling
    // noise), which is wider than the flatness margin being judged —
    // raise for artifact runs
    val iters = sys.env.getOrElse("SPARK_GRAFT_PROBE_ITERS", "2").toInt
    val probes = run(spark, base, baseEmb, ks, "/tmp/graft_scale",
      iters = iters, sizeOf = sizeOf)
    // a self-describing header: the two modes answer different questions
    // and must be read together (contract ratios fold the geometry ramp
    // in; the fixed-geometry control isolates pure corpus growth)
    val mode =
      if (args.length > 3 && args(3) == "fixed")
        """{"mode":"fixed-geometry","iters":%d,"note":"store shard/bucket/cell counts pinned at the largest scale for every k - serving/maintenance ratios here measure pure corpus growth at constant store geometry"}"""
          .format(iters)
      else
        """{"mode":"contract-sizing","iters":%d,"note":"store geometry scales with k (constant data per directory) - serving/maintenance ratios fold in the geometry ramp (touched-file count toward its batch/vocab ceiling); see the fixed-geometry control artifact for pure corpus growth"}"""
          .format(iters)
    val lines = mode +: (probes.map(jsonLine) ++ summaryLines(probes))
    lines.foreach(println)
    outFile.foreach { f =>
      java.nio.file.Files.writeString(java.nio.file.Path.of(f),
        lines.mkString("", "\n", "\n"))
    }
    spark.stop()
  }
}
