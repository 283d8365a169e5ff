package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}

/** Persisted duplicate-cluster store: a labelling (doc → cluster) plus the
  * fingerprint HUB table that lets a new batch derive its candidate edges
  * by point lookup against persisted state, never by rescanning (or
  * re-tokenizing) the old corpus.
  *
  * Committed through the [[Generations]] manifest (the index/ANN/LM store
  * protocol): every surface write lands as a `gen=<g>` directory and the
  * manifest flip commits ALL of a batch's surfaces atomically — readers
  * resolve the manifest once, so a crashed multi-surface apply is
  * invisible rather than half-visible, and compaction never deletes what
  * a concurrent reader's resolved manifest references.
  *
  * Layout under `path` (build/compaction generations directory-partition
  * by shard/bucket; batch APPLIES write FLAT segments whose file count
  * tracks the batch, never the bucket fan-out — the Lucene segment split
  * shared with the index/LM/span stores; compaction folds segments back
  * into the directories):
  *  - `hubs/gen=<g>/__shard=<s>/` (w, fp, dst): one representative doc id
  *    per (window, fingerprint) ever seen, sharded by a hash of the
  *    fingerprint — a batch's hub lookup prunes to the shards of its own
  *    fingerprints. A hub need not be the group's min id — any member
  *    preserves connectivity, so appends never rewrite it.
  *  - `labels/gen=<g>/__bucket=<b>/` (id, cluster_id), bucketed by a hash
  *    of the id: each generation holds ONE batch's labels, stored with
  *    the cluster label that was current when the batch was absorbed.
  *    Old generations are never rewritten by an apply.
  *  - `remap/gen=<g>/` (old_label, new_label): the store's cluster-merge
  *    ledger, kept DEPTH-1 — a stored label that later merged into a
  *    bigger component maps directly to the current label. Rewritten in
  *    full by each apply (it is merge-count-sized, not corpus-sized);
  *    readers resolve `coalesce(remap[stored], stored)`. This is what
  *    makes [[ccApply]] batch-bound: absorbing a batch never reads — let
  *    alone rewrites — the labels of clusters the batch does not touch,
  *    even when the batch merges two giant old components (their members
  *    keep their stored labels; one remap row redirects them).
  *  - `meta/` (n_buckets, windows): the fingerprint scheme is stamped so
  *    an apply with mismatched windows fails fast instead of silently
  *    fragmenting clusters.
  *
  * Scale shape of [[ccApply]] — every read bounded by the batch: the dupe
  * guard reads only the batch ids' label buckets; the hub lookup reads
  * only the batch fingerprints' shards; old connectivity enters as the
  * batch edges' ENDPOINT labels (endpoint-bucket-pruned point lookups)
  * resolved through the remap; the iterative CC runs over a subgraph of
  * batch vertices + endpoint stars; the writes are one new generation
  * (batch-sized) plus the remap (merge-ledger-sized). Nothing re-pairs,
  * re-reads, or re-labels the untouched corpus (law in ClusterStoreSpec:
  * an apply succeeds even when every untouched label bucket's files are
  * corrupted on disk).
  *
  * Invariant the remap algebra rests on: a served label is always the MIN
  * doc id of its component (CC labels with component minima; batch
  * generations store served labels). Hence a merged component's min is
  * always visible inside the apply's subgraph — it is one of the resolved
  * endpoint labels or a batch id — and a stale remap key can never equal
  * any current label, so one composition pass per apply keeps the ledger
  * depth-1 (see [[ccApply]]).
  */
object ClusterStore {

  private val surfaces = Seq("hubs", "labels", "remap")

  private def bucketOf(id: Column, n: Int) =
    pmod(xxhash64(id.cast("string")), lit(n.toLong)).cast("int")

  private def shardOf(fp: Column, n: Int) =
    pmod(xxhash64(fp), lit(n.toLong)).cast("int")

  private def windowsTag(windows: Seq[(Int, Int)]): String =
    windows.map { case (a, b) => s"$a-$b" }.mkString(",")

  private val hubSchema = new StructType()
    .add("w", IntegerType).add("fp", StringType).add("dst", LongType)
    .add("gen", StringType).add("__shard", IntegerType)
  private val labelSchema = new StructType()
    .add("id", LongType).add("cluster_id", LongType)
    .add("gen", StringType).add("__bucket", IntegerType)
  private val remapSchema = new StructType()
    .add("old_label", LongType).add("new_label", LongType)
    .add("gen", StringType)

  private def readMeta(spark: SparkSession, path: String): (Int, String) = {
    val m = spark.read.parquet(s"$path/meta")
      .select(col("n_buckets"), col("windows")).head()
    (m.getInt(0), m.getString(1))
  }

  /** The hub surface pruned to the given fingerprint shards — at the
    * PATH level (probed leaf directories only), so the plan-time listing
    * is O(gens + touched shards), never O(gens × nBuckets). */
  private def hubsPruned(spark: SparkSession, path: String,
      gens: Seq[String], shards: Array[Int]): DataFrame =
    Generations.readSurfacePruned(spark, path, "hubs", gens, hubSchema,
        "__shard", shards.toIndexedSeq)
      .select(col("w"), col("fp"), col("dst"))

  /** The label surface pruned to the given id buckets (path level). */
  private def labelsPruned(spark: SparkSession, path: String,
      gens: Seq[String], buckets: Array[Int]): DataFrame =
    Generations.readSurfacePruned(spark, path, "labels", gens, labelSchema,
        "__bucket", buckets.toIndexedSeq)
      .select(col("id"), col("cluster_id"))

  /** The hub surface folded whole across the given generations (both
    * layouts — partitioned build/compaction dirs and flat apply
    * segments): the inspection read the specs pin invariants on. */
  private[graft] def hubsRead(spark: SparkSession, path: String,
      gens: Seq[String]): DataFrame =
    Generations.readSurfaceMixed(spark, path, "hubs", gens, hubSchema,
      "__shard").select(col("w"), col("fp"), col("dst"))

  /** The current merge ledger: the LAST committed generation's remap (each
    * apply rewrites the full ledger, so only the newest copy is live). */
  private def readRemap(spark: SparkSession, path: String,
      gens: Seq[String]): DataFrame =
    Generations.readSurfaceAs(spark, path, "remap", Seq(gens.last), remapSchema)
      .select(col("old_label"), col("new_label"))

  /** One generation of all three surfaces. Two layouts — the Lucene
    * segment split the index/LM/span stores already carry:
    *
    *  - `segment = false` (corpus-sized builds; compaction writes its own
    *    fold): `__shard`/`__bucket`-DIRECTORY-partitioned, repartitioned
    *    first so each dir holds ONE file — the layout the pruned serving
    *    reads path-prune.
    *  - `segment = true` (batch applies): a FLAT generation — the
    *    shard/bucket stays a DATA column, rows sorted by it for row-group
    *    locality, and the FILE count tracks the batch, never the store's
    *    corpus-scaled bucket fan-out. A batch apply that mirrors the full
    *    fan-out pays O(nBuckets) file creates per surface per apply — at
    *    contract sizing (nBuckets = 8k) that per-directory constant is
    *    exactly the geometry-proportional ramp the r12 contract probe
    *    measured on cc_apply_5k (2.4→10.7 s per 32×) while the
    *    fixed-geometry control stayed flat. Readers fold both layouts
    *    behind the same filters ([[Generations.readSurfacePruned]] /
    *    [[Generations.readSurfaceMixed]]); flat-segment total size is
    *    bounded by the compaction cadence, which folds them back into
    *    the bucket directories.
    *
    * A TINY batch (the driver apply path) additionally skips the layout
    * shuffle: one task writes the whole segment (one file per surface).
    */
  private def writeGeneration(path: String, gen: String, hubs: DataFrame,
      labels: DataFrame, remap: DataFrame, nBuckets: Int,
      segment: Boolean, tiny: Boolean = false): Unit = {
    def laidOut(df: DataFrame, pc: String) =
      if (tiny) df.coalesce(1).sortWithinPartitions(col(pc))
      else df.repartition(col(pc)).sortWithinPartitions(col(pc))
    def out(df: DataFrame, pc: String, sub: String): Unit = {
      val w = laidOut(df, pc).write.mode("overwrite")
      (if (segment) w else w.partitionBy(pc)).parquet(s"$path/$sub/gen=$gen")
    }
    // the three surface writes are independent until the manifest flip —
    // run them concurrently so a batch apply pays max(write), not
    // sum(writes); each is its own job, the session is thread-safe.
    // Each future BLOCKS for its full write, so mark the bodies with
    // blocking{}: the shared fork-join pool then spawns compensation
    // threads instead of starving (parallelism = #cores) when several
    // stores in one JVM apply concurrently alongside other global-EC users.
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val writes = Seq(
      Future {
        blocking {
          out(hubs.withColumn("__shard", shardOf(col("fp"), nBuckets)),
            "__shard", "hubs")
        }
      },
      Future {
        blocking {
          out(labels.withColumn("__bucket", bucketOf(col("id"), nBuckets)),
            "__bucket", "labels")
        }
      },
      Future {
        // merge-ledger-sized; one file keeps the read a single open
        blocking {
          remap.coalesce(1).write.mode("overwrite")
            .parquet(s"$path/remap/gen=$gen")
        }
      })
    Await.result(Future.sequence(writes), Duration.Inf)
    ()
  }

  /** Initialize the store from a corpus: fingerprint, pick hubs, run
    * batch connected components, commit one generation. */
  def ccBuild(docs: DataFrame, idCol: String, textCol: String, path: String,
      windows: Seq[(Int, Int)] = Seq((1, 8), (5, 12)), nBuckets: Int = 16): Unit = {
    require(nBuckets >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(path), true)
    // one fingerprint evaluation feeds the hub write, the edge join and
    // (via hubs) the CC seed
    val fps = Components.fingerprintRows(docs, idCol, textCol, windows)
      .localCheckpoint()
    val hubs = fps.groupBy(col("w"), col("fp")).agg(min(col("id")).as("dst"))
      .localCheckpoint()
    val edges = fps.join(hubs, Seq("w", "fp"))
      .select(col("id").as("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    val labels = Components.connectedComponents(
      docs.select(col(idCol).cast("long").as("id")), edges)
    writeGeneration(path, "g0", hubs, labels,
      Seq.empty[(Long, Long)].toDF("old_label", "new_label"), nBuckets,
      segment = false)
    fps.unpersist()
    hubs.unpersist()
    Seq((nBuckets, windowsTag(windows))).toDF("n_buckets", "windows")
      .write.mode("overwrite").parquet(s"$path/meta")
    // the manifest flip commits the build ([[Generations]])
    Generations.commit(spark, path, Seq("g0"))
  }

  /** Absorb a NEW document batch: derive its candidate edges from the
    * stored hub shards its fingerprints probe (known fingerprints link to
    * their stored hub; novel fingerprints elect a hub within the batch),
    * resolve the edges' old endpoints to their CURRENT cluster labels
    * (endpoint-bucket-pruned lookup + remap), run connected components
    * over the batch-sized subgraph, then commit one generation: the
    * batch's labels, its novel hubs, and the re-composed merge ledger —
    * flipped into visibility by one manifest write. Law
    * (ClusterStoreSpec): build(b1) + apply(b2) equals a batch build over
    * b1 ∪ b2; untouched clusters' label files are neither read nor
    * written.
    *
    * Redelivery is fail-fast (a batch doc id already labelled aborts the
    * apply); the manifest makes a crashed apply invisible, so re-driving
    * it converges through this same path — at-least-once delivery needs
    * [[ccApplyOrReplay]] only to recognize the batch-already-committed
    * no-op.
    */
  def ccApply(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String,
      windows: Seq[(Int, Int)] = Seq((1, 8), (5, 12))): Unit =
      Generations.withWriterLock(spark, path) {
    val (nBuckets, storedTag) = readMeta(spark, path)
    require(storedTag == windowsTag(windows),
      s"ccApply: fingerprint windows ${windowsTag(windows)} do not match " +
        s"the store's scheme $storedTag — a mismatched apply " +
        "would silently fragment clusters")
    val committed = Generations.live(spark, path)
    // pinned once: the guard, the fingerprint joins and the CC vertex set
    // must all see the SAME batch evaluation
    val b = batch.select(col(idCol).cast("long").as("id"),
      col(textCol).as("__text")).localCheckpoint()
    try {
      val batchIds = b.select(col("id"))
      // ONE job serves all three guards AND the touched-bucket set: the
      // per-bucket grouped counts sum to row count, non-null count (a
      // failed long cast yields null — countDistinct skips nulls, so
      // without the explicit check a lone null row would masquerade as a
      // duplicate) and distinct-id count (distinct ids are disjoint
      // across buckets — the bucket is a function of the id), and the
      // group keys ARE the batch's label buckets
      val perBucket = b.groupBy(bucketOf(col("id"), nBuckets).as("b"))
        .agg(count(lit(1)).as("n"), count(col("id")).as("nn"),
          countDistinct(col("id")).as("nd")).collect()
      val n = perBucket.map(_.getLong(1)).sum
      if (n == 0L) return
      require(perBucket.map(_.getLong(2)).sum == n,
        s"ccApply: batch holds ${n - perBucket.map(_.getLong(2)).sum} null " +
          "doc ids (a non-numeric id fails the long cast) — clean the " +
          "batch before apply")
      require(perBucket.map(_.getLong(3)).sum == n,
        s"ccApply: batch holds duplicate doc ids — deduplicate the batch " +
          "before apply (a duplicate row would store two labels for one doc)")
      // dupe guard, pruned to the batch ids' own buckets — untouched
      // buckets are never opened
      val batchBuckets = perBucket.map(_.getInt(0))
      val dupe = labelsPruned(spark, path, committed, batchBuckets)
        .join(batchIds, Seq("id"), "left_semi")
      require(dupe.isEmpty,
        "ccApply: batch contains doc ids already labelled — deduplicate " +
          "redelivered batches before apply")
      val fps = Components.fingerprintRows(b, "id", "__text", windows)
        .localCheckpoint()
      try {
        applyBody(spark, path, fps, b, nBuckets, committed, n)
      } finally fps.unpersist()
    } finally b.unpersist()
    ()
  }

  /** The edge derivation + subgraph CC + generation commit of [[ccApply]]
    * (split out so the checkpoint releases wrap it on every path).
    * Batches at or under [[Components.DriverCcMaxBatch]] docs take the
    * collected union-find path; larger ones the iterative distributed CC.
    * The subgraph is batch-bound by construction — hubs are unique per
    * (window, fingerprint), so edges ≤ windows × batch rows and endpoints
    * ≤ 2 × edges — so the batch's doc count bounds the collect. */
  private def applyBody(spark: SparkSession, path: String, fps: DataFrame,
      b: DataFrame, nBuckets: Int, committed: Seq[String],
      nDocs: Long): Unit = {
    val batchIds = b.select(col("id"))
    val gen = Generations.nextName(spark, path, surfaces, 'g')
    // hub lookup pruned to the batch fingerprints' shards (bounded by
    // nBuckets by construction — a driver-side int set, never data)
    val probedShards = fps.select(shardOf(col("fp"), nBuckets).as("s"))
      .distinct().collect().map(_.getInt(0))
    val stored = hubsPruned(spark, path, committed, probedShards)
    val known = fps.join(stored, Seq("w", "fp"))
      .select(col("id").as("src"), col("dst"))
    val novel = fps.join(stored, Seq("w", "fp"), "left_anti")
    val newHubs = novel.groupBy(col("w"), col("fp"))
      .agg(min(col("id")).as("dst")).localCheckpoint()
    val edgePlan = known
      .union(novel.join(newHubs, Seq("w", "fp"))
        .select(col("id").as("src"), col("dst")))
      .filter(col("src") =!= col("dst"))
    if (nDocs <= Components.driverCcMax(spark)) {
      applyBodyDriver(spark, path, edgePlan, b, nBuckets, committed,
        gen, newHubs, nDocs)
      newHubs.unpersist()
      return
    }
    val edges = edgePlan
      .localCheckpoint() // one evaluation: endpoint probe + CC seed
    try {
      // OLD endpoints of the batch's edges, resolved to current labels:
      // bucket-pruned label lookup, then the depth-1 merge ledger
      val endpoints = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct()
        .join(batchIds, Seq("id"), "left_anti")
        .localCheckpoint()
      val epBuckets = endpoints.select(bucketOf(col("id"), nBuckets).as("b"))
        .distinct().collect().map(_.getInt(0))
      val remap = readRemap(spark, path, committed)
      val epStored =
        if (epBuckets.isEmpty)
          endpoints.withColumn("cluster_id", col("id"))
        else endpoints
          .join(labelsPruned(spark, path, committed, epBuckets),
            Seq("id"), "left_outer")
      val epLab = epStored
        .join(remap, epStored("cluster_id") === remap("old_label"), "left_outer")
        .select(col("id"),
          coalesce(col("new_label"), epStored("cluster_id"), col("id")).as("root"))
        .localCheckpoint()
      // subgraph: batch vertices + endpoints + their cluster roots; old
      // connectivity enters as one depth-1 star edge per endpoint
      val vertices = batchIds
        .union(endpoints)
        .union(epLab.select(col("root").as("id")))
        .distinct()
      val rootEdges = epLab.filter(col("root") =!= col("id"))
        .select(col("root").as("src"), col("id").as("dst"))
      val sub = Components.connectedComponents(vertices, edges.union(rootEdges))
        .localCheckpoint()
      try {
        val batchLabels = sub.join(batchIds, Seq("id"), "left_semi")
        // merge ledger delta: every old cluster root whose component got a
        // new (smaller) min. Targets are component minima, so no delta
        // target is a delta key — composing ONE pass keeps depth 1
        val delta = epLab.select(col("root").as("d_old")).distinct()
          .join(sub.withColumnRenamed("id", "d_old"), Seq("d_old"))
          .filter(col("cluster_id") =!= col("d_old"))
          .select(col("d_old"), col("cluster_id").as("d_new"))
        val newRemap = remap
          .join(delta, remap("new_label") === delta("d_old"), "left_outer")
          .select(remap("old_label"),
            coalesce(col("d_new"), remap("new_label")).as("new_label"))
          .unionByName(delta.select(col("d_old").as("old_label"),
            col("d_new").as("new_label")))
        writeGeneration(path, gen, newHubs, batchLabels, newRemap, nBuckets,
          segment = true)
        // single filesystem op commits hubs + labels + remap together
        Generations.add(spark, path, gen)
      } finally sub.unpersist()
      epLab.unpersist()
      endpoints.unpersist()
    } finally edges.unpersist()
    newHubs.unpersist()
    ()
  }

  /** The driver-side small-batch half of [[applyBody]]: same store
    * reads, same invariants, but the subgraph CC is a collected
    * union-find instead of ~50 Spark jobs of iterative propagation.
    * Everything collected is batch-bound by construction (edges ≤
    * windows × docs since hubs are unique per (w, fp); endpoints ≤ 2 ×
    * edges); the merge ledger is NOT collected — the remap composition
    * stays a broadcast join over its scan, exactly as in the
    * distributed path. Produces bit-identical generations to the
    * distributed path (ClusterStoreSpec: apply equals the union-corpus
    * rebuild; the served-label invariant — labels are component minima —
    * holds because union-find labels with the subgraph minimum too). */
  private def applyBodyDriver(spark: SparkSession, path: String,
      edgePlan: DataFrame, b: DataFrame, nBuckets: Int,
      committed: Seq[String], gen: String, newHubs: DataFrame,
      nDocs: Long): Unit = {
    import spark.implicits._
    val edgeArr = edgePlan.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val idArr = b.select(col("id")).collect().map(_.getLong(0))
    val idSet = idArr.toSet
    val endpoints = edgeArr.iterator
      .flatMap { case (s, d) => Iterator(s, d) }
      .filterNot(idSet).toArray.distinct
    // endpoint labels: bucket-pruned point lookup + depth-1 ledger, one
    // collect. The endpoint frame is a local relation, so its bucket
    // projection folds driver-side; the only cluster job is the lookup.
    val epLab: Array[(Long, Long)] =
      if (endpoints.isEmpty) Array.empty
      else {
        val epDf = endpoints.toSeq.toDF("id")
        val epBuckets = epDf.select(bucketOf(col("id"), nBuckets).as("b"))
          .distinct().collect().map(_.getInt(0))
        val remap = readRemap(spark, path, committed)
        // no broadcast hint: the left of a left-outer cannot be the
        // build side; the pruned label slice is batch-bounded and AQE
        // picks the join strategy
        val epStored = epDf
          .join(labelsPruned(spark, path, committed, epBuckets),
            Seq("id"), "left_outer")
        epStored
          .join(remap, epStored("cluster_id") === remap("old_label"),
            "left_outer")
          .select(col("id"),
            coalesce(col("new_label"), epStored("cluster_id"), col("id"))
              .as("root"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
      }
    // union-find over batch vertices + endpoint stars, labelling each
    // component with its MINIMUM member (the served-label invariant)
    val uf = new Components.UnionFind
    epLab.foreach { case (id, root) => uf.union(id, root) }
    edgeArr.foreach { case (s, d) => uf.union(s, d) }
    val batchLabels = idArr.toSeq.map(id => (id, uf.find(id)))
      .toDF("id", "cluster_id")
    // merge ledger delta: old roots whose component got a smaller min
    val delta = epLab.map(_._2).distinct
      .map(r => (r, uf.find(r))).filter { case (o, nw) => o != nw }
    val deltaDf = delta.toSeq.toDF("d_old", "d_new")
    val remap = readRemap(spark, path, committed)
    val newRemap = remap
      .join(broadcast(deltaDf), remap("new_label") === col("d_old"),
        "left_outer")
      .select(remap("old_label"),
        coalesce(col("d_new"), remap("new_label")).as("new_label"))
      .unionByName(deltaDf.select(col("d_old").as("old_label"),
        col("d_new").as("new_label")))
    // single-task segment writes only while the frames are genuinely
    // tiny; a 200k-doc driver-path batch still wants the layout shuffle
    writeGeneration(path, gen, newHubs, batchLabels, newRemap, nBuckets,
      segment = true, tiny = nDocs <= 20000)
    Generations.add(spark, path, gen)
  }

  /** Replay-safe apply for STREAM-triggered ingestion
    * ([[graft.streaming.CcStream]]): foreachBatch delivery is
    * at-least-once, and a replayed micro-batch is byte-identical under
    * the stream checkpoint. The manifest flip commits an apply
    * atomically, so a batch is either fully committed (ALL its ids
    * labelled — pure replay, nothing to do) or invisible (NONE labelled —
    * the normal [[ccApply]] path; a crashed attempt's orphan directories
    * are never referenced and sweep at the next compaction). A PARTIAL
    * overlap cannot arise from checkpointed replay, so it fails fast as
    * upstream corruption. Batches carrying duplicate ids fail fast with
    * their own message (they would otherwise masquerade as partial
    * replays).
    */
  def ccApplyOrReplay(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String,
      windows: Seq[(Int, Int)] = Seq((1, 8), (5, 12))): Unit =
      Generations.withWriterLock(spark, path) {
    val (nBuckets, _) = readMeta(spark, path)
    val raw = batch.select(col(idCol).cast("long").as("id")).localCheckpoint()
    try {
      val n = raw.count()
      if (n == 0L) return
      val ids = raw.distinct()
      val nd = ids.count()
      require(nd == n,
        s"ccApplyOrReplay: batch holds duplicate doc ids ($n rows, $nd " +
          "distinct) — deduplicate the batch upstream")
      val buckets = ids.select(bucketOf(col("id"), nBuckets).as("b"))
        .distinct().collect().map(_.getInt(0))
      val labelled = labelsPruned(spark, path,
        Generations.live(spark, path), buckets)
        .join(ids, Seq("id"), "left_semi").count()
      if (labelled == 0L) ccApply(spark, path, batch, idCol, textCol, windows)
      else if (labelled != nd) throw new IllegalStateException(
        s"ccApplyOrReplay: $labelled of $nd batch ids are already " +
          "labelled — a checkpointed replay is all-or-nothing, so a " +
          "partial overlap means upstream corruption")
      // labelled == nd: committed previous attempt — converged, no-op
    } finally { raw.unpersist(); () }
  }

  /** The stored labelling (id, cluster_id), merge ledger resolved.
    * `asOf` pins a retained snapshot manifest ([[Generations.liveAt]]) —
    * labels AND the ledger resolve at that commit's state, so the
    * labelling an operator debugs is exactly the one that was served. */
  def ccRead(spark: SparkSession, path: String,
      asOf: Option[Int] = None): DataFrame = {
    val committed = asOf.map(Generations.liveAt(spark, path, _))
      .getOrElse(Generations.live(spark, path))
    val labels = Generations.readSurfaceMixed(spark, path, "labels",
        committed, labelSchema, "__bucket")
      .select(col("id"), col("cluster_id"))
    val remap = readRemap(spark, path, committed)
    labels.join(remap, labels("cluster_id") === remap("old_label"), "left_outer")
      .select(col("id"),
        coalesce(col("new_label"), labels("cluster_id")).as("cluster_id"))
  }

  /** Fold the committed generations into one: hubs merge (disjoint across
    * generations — appends add only novel fingerprints), labels fold with
    * the merge ledger RESOLVED (so the folded remap is empty and serving
    * reads pay no join until the next merge), and the manifest flips to
    * the single folded generation. Crash and concurrent-reader safety per
    * the [[Generations]] protocol — the folded directories survive one
    * maintenance cycle for readers that resolved the old manifest; a
    * crashed compaction's orphan is referenced by nothing. Already-folded
    * stores (a lone `c<n>` generation) return immediately, so repeated
    * compaction is a measured no-op. Single WRITER still required (never
    * concurrent with an apply).
    */
  def ccCompact(spark: SparkSession, path: String): Unit =
      Generations.withWriterLock(spark, path) {
    Generations.sweepUnreferenced(spark, path, surfaces)
    val committed = Generations.live(spark, path)
    if (committed.sizeIs == 1 && committed.head.startsWith("c")) return
    val (nBuckets, _) = readMeta(spark, path)
    val cGen = Generations.nextName(spark, path, surfaces, 'c')
    import spark.implicits._
    val hubs = Generations.readSurfaceMixed(spark, path, "hubs", committed,
      hubSchema, "__shard").select(col("w"), col("fp"), col("dst"))
    // compaction folds the flat apply segments back into the bucket
    // directories — one file per dir
    writeGeneration(path, cGen, hubs, ccRead(spark, path),
      Seq.empty[(Long, Long)].toDF("old_label", "new_label"), nBuckets,
      segment = false)
    Generations.commit(spark, path, Seq(cGen))
  }
}
