package graft.queries

import graft.Tables
import graft.operators.{ClusterStore, Components, DsirStore, History, Indexing, LmStore, Retrieval, Similarity, SpanStore, VectorStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted-store lifecycle queries (round 6): the inverted index and
  * BM25 retrieval SERVED from an on-disk index built in two generations
  * (build + incremental append, [[graft.operators.Indexing.indexBuild]] /
  * [[graft.operators.Indexing.indexAppend]]) — oracle-checked against the
  * SAME SQL as their recompute twins (q103 / q113). That is exactly the
  * lifecycle law stated as a query: serving a segmented store must be
  * indistinguishable from recomputing over the full corpus.
  *
  * The store is built once per corpus directory and memoized for the JVM's
  * lifetime (a resident service's shape — the index is a persisted
  * artifact; queries measure SERVING, not rebuild).
  */
object StoreQueries {

  type Q = (SparkSession, String) => DataFrame

  private val built = scala.collection.concurrent.TrieMap[String, String]()

  private def index(s: SparkSession, d: String): String =
    built.getOrElseUpdate(d, {
      val dir = java.nio.file.Files.createTempDirectory("graft_store").toString + "/idx"
      val docs = Tables.documents(s, d)
      Indexing.indexBuild(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        dir, nShards = 8)
      Indexing.indexAppend(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", dir)
      dir
    })

  private val builtScd2 = scala.collection.concurrent.TrieMap[String, String]()

  /** SCD2 store built in two generations split by EVENT parity — the
    * batches interleave in time per user, so the apply exercises the
    * late-event merge path, not just appends. */
  private def scd2Store(s: SparkSession, d: String): String =
    builtScd2.getOrElseUpdate(d, {
      val dir = java.nio.file.Files.createTempDirectory("graft_scd2_q").toString + "/store"
      val ev = Tables.events(s, d)
      History.scd2Build(ev.filter(col("event_id") % 2 === 0),
        "user_id", "event_type", "ts", "event_id", dir, nBuckets = 16)
      History.scd2Apply(s, dir, ev.filter(col("event_id") % 2 =!= 0),
        "user_id", "event_type", "ts", "event_id")
      dir
    })

  private val builtCc = scala.collection.concurrent.TrieMap[String, String]()

  /** Dup-cluster store built in two generations (even docs, then the odd
    * batch absorbed via the persisted hub table). */
  private def ccStore(s: SparkSession, d: String): String =
    builtCc.getOrElseUpdate(d, {
      val dir = java.nio.file.Files.createTempDirectory("graft_cc_q").toString + "/store"
      val docs = Tables.documents(s, d)
      ClusterStore.ccBuild(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", dir, nBuckets = 16)
      ClusterStore.ccApply(s, dir, docs.filter(col("doc_id") % 2 =!= 0),
        "doc_id", "text")
      dir
    })

  private val builtAnn = scala.collection.concurrent.TrieMap[String, String]()

  /** ANN store built in two generations: the portable quantizer is drawn
    * from (and frozen at) the even-id build batch, the odd half lands as
    * an incremental append against those centroids. */
  private def annStore(s: SparkSession, d: String): String =
    builtAnn.getOrElseUpdate(d, {
      val dir = java.nio.file.Files.createTempDirectory("graft_ann_q").toString + "/store"
      val emb = Tables.embeddings(s, d)
      VectorStore.annBuild(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", dir, nCells = 16)
      VectorStore.annAppend(s, emb.filter(col("vec_id") % 2 =!= 0),
        "vec_id", "embedding", dir)
      dir
    })

  private val builtLm = scala.collection.concurrent.TrieMap[String, String]()

  /** Bigram-LM store built in two generations (even docs, then the odd
    * half appended — counts fold by sum, so the register equals one
    * trained on the whole corpus). */
  private def lmStore(s: SparkSession, d: String): String =
    builtLm.getOrElseUpdate(d, {
      val dir = java.nio.file.Files.createTempDirectory("graft_lm_q").toString + "/store"
      val docs = Tables.documents(s, d)
      LmStore.lmBuild(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        dir, nShards = 8)
      LmStore.lmAppend(s, docs.filter(col("doc_id") % 2 =!= 0), "doc_id",
        "text", dir)
      dir
    })

  private val builtDsir = scala.collection.concurrent.TrieMap[String, String]()

  /** Persisted DSIR fit: target = src0's documents, raw pool = the full
    * corpus ingested in two generations (even ids at build, odd ids
    * appended — counts fold by sum, so the fit equals one built on the
    * whole pool). */
  private def dsirStore(s: SparkSession, d: String): String =
    builtDsir.getOrElseUpdate(d, {
      val dir = java.nio.file.Files.createTempDirectory("graft_dsir_q").toString + "/store"
      val docs = Tables.documents(s, d)
      DsirStore.dsirBuild(docs.filter(col("source") === "src0"),
        docs.filter(col("doc_id") % 2 === 0), "text", dir, nBuckets = 256)
      DsirStore.dsirAppend(s, docs.filter(col("doc_id") % 2 =!= 0), "text",
        dir, DsirStore.SideRaw)
      dir
    })

  private val base: Seq[(String, Q, Option[String])] = Seq(

    // q103's surface served from the two-generation store: df/ttf fold the
    // stat segments, the posting head is rank-bounded over stored postings.
    // The oracle recomputes over the full corpus — segment-merge exactness.
    ("q119_index_lifecycle", (s: SparkSession, d: String) => {
      Indexing.indexStats(s, index(s, d), minDf = 50L, postingCap = 10)
    }, Some("""
      WITH tk AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token
                  FROM documents),
      agg AS (SELECT token, count(DISTINCT doc_id) AS doc_freq, count(*) AS total_tf,
                     array_to_string(list_sort(list(DISTINCT doc_id))[1:10], ',')
                       AS postings_head
              FROM tk GROUP BY token)
      SELECT token, doc_freq, total_tf, postings_head
      FROM agg WHERE doc_freq >= 50""")),

    // q113's BM25 ranking served from the same store: tf from shard-pruned
    // postings, df/avgdl/n_docs from folded segments — the corpus text is
    // never re-tokenized at query time.
    ("q120_bm25_served", (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      Retrieval.bm25FromIndex(s, docs.filter(col("doc_id") < 3),
        "doc_id", "text", index(s, d), k = 10)
    }, Some("""
      WITH tk AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token
                  FROM documents),
      tf AS (SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY doc_id, token),
      dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
      df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
      co AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
             FROM dl),
      q AS (SELECT DISTINCT doc_id AS query_id, token FROM tk WHERE doc_id < 3),
      sc AS (
        SELECT q.query_id, tf.doc_id,
               round(sum(ln(1.0 + (co.n_docs - df.df + 0.5) / (df.df + 0.5))
                 * (tf.tf * (1.2 + 1.0))
                 / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / co.avgdl))), 4)
                 AS score
        FROM tf JOIN q USING (token) JOIN df USING (token)
        JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN co
        WHERE tf.doc_id <> q.query_id
        GROUP BY q.query_id, tf.doc_id),
      rk AS (SELECT query_id, doc_id, score,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY score DESC, doc_id) AS rank
             FROM sc)
      SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, score
      FROM rk WHERE rank <= 10""")),

    // q121's two-stage hybrid retrieval with stage 1 SERVED from the same
    // two-generation store: candidates come from bm25FromIndex (shard-
    // pruned postings with inline dl), the rerank fetches only the
    // candidates' embeddings. Same oracle SQL as q121 — serving must be
    // indistinguishable from recomputing.
    ("q131_hybrid_served", (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      Retrieval.hybridRerankFromIndex(s, docs.filter(col("doc_id") < 3),
        Tables.table(s, d, "embeddings"), "doc_id", "text", "vec_id",
        "embedding", index(s, d), k = 5, candK = 10)
    }, Some("""
      WITH tk AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token
                  FROM documents),
      tf AS (SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY doc_id, token),
      dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
      df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
      co AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
             FROM dl),
      q AS (SELECT DISTINCT doc_id AS query_id, token FROM tk WHERE doc_id < 3),
      sc AS (
        SELECT q.query_id, tf.doc_id,
               round(sum(ln(1.0 + (co.n_docs - df.df + 0.5) / (df.df + 0.5))
                 * (tf.tf * (1.2 + 1.0))
                 / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / co.avgdl))), 4)
                 AS score
        FROM tf JOIN q USING (token) JOIN df USING (token)
        JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN co
        WHERE tf.doc_id <> q.query_id
        GROUP BY q.query_id, tf.doc_id),
      rk AS (SELECT query_id, doc_id, score,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY score DESC, doc_id) AS rank
             FROM sc),
      cand AS (SELECT query_id, doc_id, score AS bm25 FROM rk WHERE rank <= 10),
      emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      cosd AS (SELECT c.query_id, c.doc_id, c.bm25,
                      CASE WHEN eq.v IS NULL OR ed.v IS NULL
                             OR list_dot_product(eq.v, eq.v)
                                * list_dot_product(ed.v, ed.v) = 0
                           THEN 0
                           ELSE list_cosine_similarity(eq.v, ed.v) END AS cos_raw
               FROM cand c
               LEFT JOIN emb eq ON eq.vec_id = c.query_id
               LEFT JOIN emb ed ON ed.vec_id = c.doc_id),
      hy AS (SELECT query_id, doc_id, bm25, cos_raw,
                    round(0.5 * bm25 / max(bm25) OVER (PARTITION BY query_id)
                          + 0.5 * cos_raw, 6) AS hybrid
             FROM cosd),
      hr AS (SELECT query_id, doc_id, bm25, cos_raw, hybrid,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY hybrid DESC, doc_id) AS rnk
             FROM hy)
      SELECT query_id, CAST(rnk AS INTEGER) AS rank, doc_id, bm25,
             round(cos_raw, 6) AS cos_sim, hybrid
      FROM hr WHERE rnk <= 5""")),

    // q115's SCD2 surface served from the two-generation store (build on
    // even event ids, apply the odd ones — per-user the batches
    // interleave in time, so the merge replays late events). The oracle
    // recomputes over ALL events: bucket-pruned incremental merge must be
    // indistinguishable from a full rebuild.
    ("q127_scd2_lifecycle", (s: SparkSession, d: String) => {
      History.scd2Read(s, scd2Store(s, d))
        .select(col("user_id"), col("version"), col("event_type"),
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
          col("n_events"), col("is_current"))
    }, Some("""
      WITH o AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN lag(event_type) OVER w IS NULL
                      OR lag(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS chg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      v AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS version
            FROM o),
      r AS (SELECT user_id, version, max(event_type) AS event_type,
                   min(ts) AS vf, count(*) AS n_events
            FROM v GROUP BY user_id, version),
      f AS (SELECT user_id, version, event_type, vf, n_events,
                   lead(vf) OVER (PARTITION BY user_id ORDER BY version) AS vt
            FROM r)
      SELECT user_id, version, event_type,
             strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
             strftime(vt, '%Y-%m-%d %H:%M:%S') AS valid_to,
             n_events, (vt IS NULL) AS is_current
      FROM f""")),

    // q101's dup-cluster surface computed INCREMENTALLY, in the regime
    // the operator exists for: a SMALL batch (10% of docs) absorbed into
    // a large labelled corpus (90%) through
    // connectedComponentsIncremental — only clusters touched by the
    // batch's edges enter the iterative phase, untouched labels pass
    // through by one anti-join. (The hub-edge filter keeps connectivity
    // for ANY split: a group's batch members link to the global hub; if
    // that hub is old it IS the old group's min, already the old
    // cluster's label.) The corpus is fingerprinted once and pinned; the
    // old corpus's star edges and the batch's edges both derive from
    // that pin. The oracle is the full-corpus recursive-CTE clustering —
    // incremental must be indistinguishable from batch.
    ("q128_cc_incremental", (s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val fps = Components.fingerprintRows(docs, "doc_id", "text",
        Seq((1, 8), (5, 12))).localCheckpoint()
      val oldCC = Components.connectedComponents(
        docs.filter(col("doc_id") % 10 =!= 0).select(col("doc_id").as("id")),
        Components.starEdges(fps.filter(col("id") % 10 =!= 0)))
      val newEdges = Components.starEdges(fps)
        .filter(col("src") % 10 === 0 || col("dst") % 10 === 0)
      Components.connectedComponentsIncremental(oldCC,
        docs.filter(col("doc_id") % 10 === 0).select(col("doc_id").as("id")),
        newEdges)
        .select(col("id").as("doc_id"), col("cluster_id"),
          count(lit(1)).over(Window.partitionBy(col("cluster_id")))
            .as("cluster_size"))
    }, Some("""
      WITH RECURSIVE
      t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
      e1 AS (SELECT doc_id AS src,
                    min(doc_id) OVER (PARTITION BY md5(array_to_string(w[1:8], ' '))) AS dst
             FROM t WHERE len(w) >= 8),
      e2 AS (SELECT doc_id AS src,
                    min(doc_id) OVER (PARTITION BY md5(array_to_string(w[5:12], ' '))) AS dst
             FROM t WHERE len(w) >= 12),
      ed AS (SELECT src, dst FROM e1 WHERE src <> dst
             UNION SELECT src, dst FROM e2 WHERE src <> dst),
      und AS (SELECT src, dst FROM ed UNION SELECT dst AS src, src AS dst FROM ed),
      r(id, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT u.dst, r.lbl FROM r JOIN und u ON u.src = r.id),
      cc AS (SELECT id, min(lbl) AS cluster_id FROM r GROUP BY id)
      SELECT id AS doc_id, cluster_id,
             count(*) OVER (PARTITION BY cluster_id) AS cluster_size
      FROM cc""")),
    // q105's TF-IDF top-terms surface SERVED from the two-generation
    // store: tf from stored postings, df/N from folded segments — the
    // corpus is never re-tokenized. Same oracle SQL as q105.
    ("q133_tfidf_served", (s: SparkSession, d: String) => {
      Indexing.tfIdfFromIndex(s, index(s, d), k = 3)
        .withColumnRenamed("id", "doc_id")
    }, Some("""
      WITH tk AS (SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token
                  FROM documents),
      tf AS (SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY doc_id, token),
      df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
      n AS (SELECT count(*) AS n_docs FROM documents),
      sc AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
                    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS score
             FROM tf JOIN df USING (token) CROSS JOIN n),
      r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                        ORDER BY score DESC, token) AS rn FROM sc)
      SELECT doc_id, token, tf, df, score FROM r WHERE rn <= 3""")),

    // q128's incremental clustering SERVED from the persisted store:
    // labels + hub table on disk, the odd batch's edges derived by point
    // lookup against the stored hubs (the old corpus is never re-read).
    // Same full-corpus recursive-CTE oracle as q128.
    ("q132_cc_store", (s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      ClusterStore.ccRead(s, ccStore(s, d))
        .select(col("id").as("doc_id"), col("cluster_id"),
          count(lit(1)).over(Window.partitionBy(col("cluster_id")))
            .as("cluster_size"))
    }, Some("""
      WITH RECURSIVE
      t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
      e1 AS (SELECT doc_id AS src,
                    min(doc_id) OVER (PARTITION BY md5(array_to_string(w[1:8], ' '))) AS dst
             FROM t WHERE len(w) >= 8),
      e2 AS (SELECT doc_id AS src,
                    min(doc_id) OVER (PARTITION BY md5(array_to_string(w[5:12], ' '))) AS dst
             FROM t WHERE len(w) >= 12),
      ed AS (SELECT src, dst FROM e1 WHERE src <> dst
             UNION SELECT src, dst FROM e2 WHERE src <> dst),
      und AS (SELECT src, dst FROM ed UNION SELECT dst AS src, src AS dst FROM ed),
      r(id, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT u.dst, r.lbl FROM r JOIN und u ON u.src = r.id),
      cc AS (SELECT id, min(lbl) AS cluster_id FROM r GROUP BY id)
      SELECT id AS doc_id, cluster_id,
             count(*) OVER (PARTITION BY cluster_id) AS cluster_size
      FROM cc""")),

    // q111's portable-IVF search SERVED from the persisted two-generation
    // vector store: the quantizer was drawn from the even-id build batch
    // and frozen; the odd half was appended against it; serving reads only
    // the probed cells. The oracle replays the whole path — centroid draw
    // (restricted to the build batch, exactly the store's frozen-quantizer
    // semantics), full-corpus assignment, probe selection, top-k.
    ("q134_ann_served", (s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      VectorStore.annSearch(s, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", annStore(s, d), k = 10, nProbe = 4)
    }, Some("""
      WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      ord AS (SELECT vec_id, v,
                     row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS rn
              FROM c WHERE vec_id % 2 = 0),
      ctr AS (SELECT rn AS cell, v AS cv FROM ord WHERE rn < 16),
      asg AS (SELECT vec_id, v, cell FROM (
                SELECT c.vec_id, c.v, ctr.cell,
                       row_number() OVER (PARTITION BY c.vec_id
                         ORDER BY list_distance(c.v, ctr.cv), ctr.cell) AS r
                FROM c CROSS JOIN ctr)
              WHERE r = 1),
      q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 5),
      probe AS (SELECT query_id, qv, cell FROM (
                  SELECT q.query_id, q.qv, ctr.cell,
                         row_number() OVER (PARTITION BY q.query_id
                           ORDER BY list_distance(q.qv, ctr.cv), ctr.cell) AS r
                  FROM q CROSS JOIN ctr)
                WHERE r <= 4),
      scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               list_cosine_similarity(a.v, p.qv) AS cos
        FROM probe p JOIN asg a ON a.cell = p.cell
        WHERE a.vec_id != p.query_id),
      rk AS (SELECT query_id, neighbor_id, cos,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, neighbor_id) AS rank
             FROM scored)
      SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
             round(cos, 6) AS cos_sim
      FROM rk WHERE rank <= 10""")),

    // CCNet-style perplexity filtering SERVED from the persisted LM
    // register (Wenzek et al. 2020's gate re-expressed store-first):
    // score every document against the frozen two-generation register
    // (the corpus is never re-read at scoring time), then keep the docs
    // whose avg bigram log-prob sits within 0.05 nats of their SOURCE's
    // mean — a distribution-relative threshold (the production
    // convention; an absolute floor would break at other corpus scales),
    // computed as a per-source window average, never a global sort. The
    // oracle replays the full chain: register counts, smoothing, scoring,
    // per-source mean, gate.
    ("q144_perplexity_filter", (s: SparkSession, d: String) => {
      import graft.functions.ColumnFunctions.pround
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val scored = LmStore.lmScoreRaw(s, docs, "doc_id", "text", lmStore(s, d))
        .withColumnRenamed("id", "doc_id")
      scored
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .withColumn("src_mean",
          avg(col("avg_logprob")).over(Window.partitionBy(col("source"))))
        // gate on PUBLISHED precision: window-avg accumulation order is
        // partition-dependent, so comparing unrounded doubles against the
        // oracle's independently-accumulated mean is flaky at epsilon
        .filter(pround(col("avg_logprob"), 6) >=
          pround(col("src_mean"), 6) - lit(0.05))
        .select(col("doc_id"), col("source"), col("n_bigrams"),
          pround(col("avg_logprob"), 6).as("avg_logprob"))
    }, Some("""
      WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
      bg AS (SELECT doc_id, unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
             FROM t WHERE len(w) >= 2),
      c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
      c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
      v AS (SELECT count(DISTINCT tok) AS v FROM (SELECT unnest(w) AS tok FROM t)),
      sc AS (SELECT bg.doc_id, count(*) AS n_bigrams,
                    avg(ln((c12.c12 + 1.0) / (c1.c1 + 1.0 * v.v))) AS lp
             FROM bg
             JOIN c12 USING (w1, w2)
             JOIN c1 USING (w1)
             CROSS JOIN v
             GROUP BY bg.doc_id),
      j AS (SELECT sc.doc_id, d.source, sc.n_bigrams, sc.lp,
                   avg(sc.lp) OVER (PARTITION BY d.source) AS src_mean
            FROM sc JOIN documents d USING (doc_id))
      SELECT doc_id, source, n_bigrams, round(lp, 6) AS avg_logprob
      FROM j WHERE round(lp, 6) >= round(src_mean, 6) - 0.05""")),

    // The number an operator of a 100 TB ANN deployment actually tunes:
    // RECALL@10 of the persisted cell-pruned store vs exact brute force,
    // swept across nProbe (1→nCells). At nProbe = nCells the store scans
    // every cell, so recall must be exactly 1.0 (the sweep's built-in
    // sanity row); the oracle replays the whole grid — frozen-quantizer
    // assignment, per-nProbe probe sets, per-(nProbe, query) top-k, exact
    // top-k, overlap count. Monotonicity in nProbe is the
    // VectorStoreSpec law; this query publishes the curve itself.
    ("q142_ann_recall", (s: SparkSession, d: String) => {
      import graft.functions.ColumnFunctions.pround
      val emb = Tables.embeddings(s, d)
      val qs = emb.filter(col("vec_id") < 5)
      val dir = annStore(s, d)
      val bf = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
      // one cell read + one scoring pass for the whole sweep
      // (annSearchSweep == annSearch at each setting, VectorStoreSpec law)
      val ann = VectorStore.annSearchSweep(s, qs, "vec_id", "embedding",
          dir, k = 10, probes = Seq(1, 2, 4, 8, 16))
        .select(col("n_probe"), col("query_id"), col("neighbor_id"))
      ann.join(bf, Seq("query_id", "neighbor_id"), "left_outer")
        .groupBy(col("n_probe"), col("query_id"))
        .agg(sum(coalesce(col("__hit"), lit(0))).as("n_hits"),
          pround(sum(coalesce(col("__hit"), lit(0))) / lit(10.0), 6)
            .as("recall"))
    }, Some("""
      WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      ord AS (SELECT vec_id, v,
                     row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS rn
              FROM c WHERE vec_id % 2 = 0),
      ctr AS (SELECT rn AS cell, v AS cv FROM ord WHERE rn < 16),
      asg AS (SELECT vec_id, v, cell FROM (
                SELECT c.vec_id, c.v, ctr.cell,
                       row_number() OVER (PARTITION BY c.vec_id
                         ORDER BY list_distance(c.v, ctr.cv), ctr.cell) AS r
                FROM c CROSS JOIN ctr)
              WHERE r = 1),
      q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 5),
      np AS (SELECT unnest([1, 2, 4, 8, 16]) AS n_probe),
      proberk AS (SELECT q.query_id, q.qv, ctr.cell,
                         row_number() OVER (PARTITION BY q.query_id
                           ORDER BY list_distance(q.qv, ctr.cv), ctr.cell) AS r
                  FROM q CROSS JOIN ctr),
      probe AS (SELECT np.n_probe, p.query_id, p.qv, p.cell
                FROM np JOIN proberk p ON p.r <= np.n_probe),
      scored AS (SELECT p.n_probe, p.query_id, a.vec_id AS neighbor_id,
                        list_cosine_similarity(a.v, p.qv) AS cos
                 FROM probe p JOIN asg a ON a.cell = p.cell
                 WHERE a.vec_id != p.query_id),
      annk AS (SELECT n_probe, query_id, neighbor_id FROM (
                 SELECT *, row_number() OVER (PARTITION BY n_probe, query_id
                   ORDER BY cos DESC, neighbor_id) AS rk
                 FROM scored)
               WHERE rk <= 10),
      bf AS (SELECT query_id, neighbor_id FROM (
               SELECT q.query_id, c.vec_id AS neighbor_id,
                      row_number() OVER (PARTITION BY q.query_id
                        ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.vec_id) AS rk
               FROM q CROSS JOIN c WHERE c.vec_id != q.query_id)
             WHERE rk <= 10)
      SELECT a.n_probe, a.query_id,
             count(b.neighbor_id) AS n_hits,
             round(count(b.neighbor_id) / 10.0, 6) AS recall
      FROM annk a LEFT JOIN bf b USING (query_id, neighbor_id)
      GROUP BY a.n_probe, a.query_id""")),

    // q98's bigram-LM scoring SERVED from the persisted count store:
    // bigram/context counts fold two generations by sum, V folds the
    // token sets by distinct, the training corpus is never re-read at
    // scoring time. Scoring the ingested corpus against its own register
    // is exactly q98's self-scoring semantics — same oracle SQL.
    ("q135_lm_served", (s: SparkSession, d: String) => {
      LmStore.lmScore(s, Tables.documents(s, d), "doc_id", "text",
        lmStore(s, d))
        .withColumnRenamed("id", "doc_id")
    }, Some("""
      WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
      bg AS (SELECT doc_id, unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
             FROM t WHERE len(w) >= 2),
      c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
      c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
      v AS (SELECT count(DISTINCT tok) AS v FROM (SELECT unnest(w) AS tok FROM t))
      SELECT bg.doc_id, count(*) AS n_bigrams,
             round(avg(ln((c12.c12 + 1.0) / (c1.c1 + 1.0 * v.v))), 6) AS avg_logprob
      FROM bg
      JOIN c12 USING (w1, w2)
      JOIN c1 USING (w1)
      CROSS JOIN v
      GROUP BY bg.doc_id""")),

    // Incremental EXACT-SUBSTRING dedup served from the persisted span
    // store (q150's lifecycle twin): the old corpus's window-hash counts
    // are built in TWO generations (build + append, so the serve folds
    // counts by sum across segments), then the %11 batch finds its
    // duplicated >=8-token spans by probing the store — no old-corpus
    // re-expansion. The oracle replays the FULL-corpus computation
    // restricted to batch documents: a batch window is duplicated iff
    // its hash count across store + batch is >= 2, which is exactly the
    // incremental==batch law SpanStoreSpec pins.
    ("q152_dup_spans_incr", (s: SparkSession, d: String) => {
      val dir = spanStore(s, d)
      SpanStore.duplicatedSpansIncremental(s,
        Tables.documents(s, d).filter(col("doc_id") % 11 === 0),
        "doc_id", "text", dir)
    }, Some("""
      WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                 FROM documents),
      e AS (SELECT doc_id, w, unnest(generate_series(0, len(w) - 8)) AS pos
            FROM t WHERE len(w) >= 8),
      wn AS (SELECT doc_id, pos,
                    md5(array_to_string(w[pos + 1 : pos + 8], ' ')) AS h
             FROM e),
      hot AS (SELECT h FROM wn GROUP BY h HAVING count(*) >= 2),
      hits AS (SELECT doc_id, pos FROM wn JOIN hot USING (h)
               WHERE doc_id % 11 = 0),
      g AS (SELECT doc_id, pos,
                   CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                                  ORDER BY pos) > 8
                        THEN 1 ELSE 0 END AS brk
            FROM hits),
      i AS (SELECT doc_id, pos,
                   sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING) AS island
            FROM g)
      SELECT doc_id, min(pos) AS span_start,
             max(pos) + 7 AS span_end, count(*) AS n_windows
      FROM i GROUP BY doc_id, island""")),

    // DSIR SERVED from the persisted fit (q162's deployment shape —
    // [[graft.operators.DsirStore]]): the bucket distributions are fit
    // once (target = src0, raw pool = the whole corpus in two folded
    // generations) and a batch (every 7th doc) is scored against the
    // store — one pass over the batch plus a 256-row broadcast, never a
    // re-scan of the fit inputs. The oracle recomputes the full fit and
    // scores the same batch: serving a persisted fit must be
    // indistinguishable from refitting (the store-lifecycle law). The
    // md5 bucketing keeps the whole computation engine-portable.
    ("q165_dsir_store_score", (s: SparkSession, d: String) => {
      val batch = Tables.documents(s, d).filter(col("doc_id") % 7 === 0)
      DsirStore.dsirScore(s, batch, "doc_id", "text", dsirStore(s, d))
    }, Some("""
      WITH tok AS (SELECT doc_id, source,
                          string_split_regex(text, '\s+') AS t
                   FROM documents),
      g AS (SELECT doc_id, source,
                   unnest(list_concat(t,
                     list_transform(generate_series(1, len(t) - 1),
                                    i -> t[i] || ' ' || t[i + 1]))) AS g
            FROM tok),
      b AS (SELECT doc_id, source,
                   ((instr('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 4096 +
                    (instr('0123456789abcdef', substr(md5(g), 2, 1)) - 1) * 256 +
                    (instr('0123456789abcdef', substr(md5(g), 3, 1)) - 1) * 16 +
                    (instr('0123456789abcdef', substr(md5(g), 4, 1)) - 1)) % 256
                     AS b
            FROM g),
      ct AS (SELECT b, count(*) AS ct FROM b WHERE source = 'src0' GROUP BY b),
      cr AS (SELECT b, count(*) AS cr FROM b GROUP BY b),
      tot AS (SELECT (SELECT sum(ct) FROM ct) AS tt,
                     (SELECT sum(cr) FROM cr) AS tr),
      wt AS (SELECT cr.b,
                    ln((coalesce(ct.ct, 0) + 1.0) / (tot.tt + 256.0))
                  - ln((cr.cr + 1.0) / (tot.tr + 256.0)) AS lr
             FROM cr LEFT JOIN ct USING (b) CROSS JOIN tot)
      SELECT b.doc_id, round(sum(wt.lr), 4) AS log_weight
      FROM b JOIN wt USING (b)
      WHERE b.doc_id % 7 = 0
      GROUP BY b.doc_id""")),
  )

  private val builtSpan = scala.collection.concurrent.TrieMap[String, String]()

  /** Span store over the NON-batch corpus (doc_id % 11 != 0), built in
    * two generations so serving folds counts across segments. */
  private def spanStore(s: SparkSession, d: String): String =
    builtSpan.getOrElseUpdate(d, {
      val dir = java.nio.file.Files.createTempDirectory("graft_span_q").toString + "/store"
      val old = Tables.documents(s, d).filter(col("doc_id") % 11 =!= 0)
      SpanStore.spanStoreBuild(old.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", dir, windowN = 8, nShards = 8)
      SpanStore.spanStoreAppend(old.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", dir)
      dir
    })

  private def sqlOf(name: String): Option[String] = base.find(_._1 == name).flatMap(_._3)

  /** Compaction served through the oracle gate: each query compacts the
    * SHARED memoized store (the runner executes queries sequentially, so
    * the stores' single-writer contract holds) and re-serves its twin's
    * surface against the twin's full-corpus oracle SQL. Compaction is
    * output-identical by construction (segments fold by sum / head
    * re-rank / latest-wins marker), so these stay green in ANY execution
    * order relative to their two-generation twins — that order-freedom IS
    * the claim under test. Compacting twice is a no-op (a lone `c<n>`
    * generation early-returns), so repeated timed iterations measure pure
    * post-compaction serving.
    */
  private val compacted: Seq[(String, Q, Option[String])] = Seq(

    ("q136_index_compacted", (s: SparkSession, d: String) => {
      val dir = index(s, d)
      Indexing.indexCompact(s, dir)
      Indexing.indexStats(s, dir, minDf = 50L, postingCap = 10)
    }, sqlOf("q119_index_lifecycle")),

    ("q137_scd2_compacted", (s: SparkSession, d: String) => {
      val dir = scd2Store(s, d)
      History.scd2Compact(s, dir)
      History.scd2Read(s, dir)
        .select(col("user_id"), col("version"), col("event_type"),
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
          col("n_events"), col("is_current"))
    }, sqlOf("q127_scd2_lifecycle")),

    ("q138_ann_compacted", (s: SparkSession, d: String) => {
      val dir = annStore(s, d)
      VectorStore.annCompact(s, dir)
      val emb = Tables.embeddings(s, d)
      VectorStore.annSearch(s, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", dir, k = 10, nProbe = 4)
    }, sqlOf("q134_ann_served")),

    ("q140_cc_compacted", (s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val dir = ccStore(s, d)
      ClusterStore.ccCompact(s, dir)
      ClusterStore.ccRead(s, dir)
        .select(col("id").as("doc_id"), col("cluster_id"),
          count(lit(1)).over(Window.partitionBy(col("cluster_id")))
            .as("cluster_size"))
    }, sqlOf("q132_cc_store")),

    ("q139_lm_compacted", (s: SparkSession, d: String) => {
      val dir = lmStore(s, d)
      LmStore.lmCompact(s, dir)
      LmStore.lmScore(s, Tables.documents(s, d), "doc_id", "text", dir)
        .withColumnRenamed("id", "doc_id")
    }, sqlOf("q135_lm_served")),

    ("q166_dsir_compacted", (s: SparkSession, d: String) => {
      val dir = dsirStore(s, d)
      DsirStore.dsirCompact(s, dir)
      val batch = Tables.documents(s, d).filter(col("doc_id") % 7 === 0)
      DsirStore.dsirScore(s, batch, "doc_id", "text", dir)
    }, sqlOf("q165_dsir_store_score")),
  )

  val entries: Seq[(String, Q, Option[String])] = base ++ compacted

  val queries: Map[String, Q] = entries.map(e => e._1 -> e._2).toMap
  val oracles: Map[String, String] = entries.collect { case (n, _, Some(sql)) =>
    n -> sql.stripMargin.trim.replace("round(", "round(1e-8 + ")
  }.toMap
}
