package graft.operators

import org.apache.spark.sql.SparkSession

/** Execution policy for the iterative rounds of connected components
  * ([[Components]]): run the loop's planning AND actions with adaptive query
  * execution off and a data-derived shuffle width, restoring the session
  * conf after.
  *
  * Why: each round is a FIXED join+aggregate shape over the previous
  * round's checkpointed blocks, but under adaptive execution every
  * exchange materializes as its own driver job (re-plan + fresh codegen +
  * dispatch) — q128 profiled at 44 sequential stage-jobs for 7.9 s wall
  * vs 6.7 s summed task time, q123 at 33 jobs for 1.9 s wall vs 0.9 s
  * task time. A statically planned round is ONE job whose stages pipeline
  * through the scheduler without driver re-planning. What AQE would buy
  * per round and why it is declined: partition coalescing (replaced by
  * the explicit derivation below) and skew-split of a giant hot key's
  * partition (rounds shuffle ~16-24 B rows, so even a 10M-member hub is
  * ~200 MB in one task; `GRAFT_CC_ADAPTIVE=1` restores per-round AQE for
  * regimes beyond that). Callers keep the EXPENSIVE upstream plan (LSH
  * verify, corpus fingerprinting) OUT of the scope by checkpointing it
  * eagerly first, so it still plans adaptively.
  *
  * Graphs within [[Components.DriverCcMaxBatch]] never reach this scope:
  * [[Components]] labels them with a driver union-find, so at dedup-query
  * sizes no round is planned and no conf is set; only larger graphs run
  * their rounds here.
  */
private[operators] object FixpointExec {

  /** Run `body` with static planning and a shuffle width derived from the
    * loop's row count (guide §2.2 — size partitions from bytes, here
    * `rows`·`rowBytes` targeting 64 MB), clamped to [2, session width]:
    * at bench scale the derivation lands on the same 1-2 post-shuffle
    * partitions AQE was choosing, at 100 TB it saturates to the session's
    * own scale knob. `GRAFT_CC_ADAPTIVE=1` bypasses (plain adaptive run).
    */
  def staticRounds[T](spark: SparkSession, rows: Long, rowBytes: Long)(body: => T): T =
    if (sys.env.get("GRAFT_CC_ADAPTIVE").contains("1")) body
    else {
      val keyA = "spark.sql.adaptive.enabled"
      val keyP = "spark.sql.shuffle.partitions"
      val wasA = spark.conf.get(keyA)
      val wasP = spark.conf.get(keyP)
      val derived = math.max(2L, rows * rowBytes / (64L << 20))
      spark.conf.set(keyA, "false")
      spark.conf.set(keyP, math.min(derived, wasP.toLong).toString)
      try body finally {
        spark.conf.set(keyA, wasA)
        spark.conf.set(keyP, wasP)
      }
    }
}
