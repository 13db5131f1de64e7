package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Merkle-bucket table diff — the anti-entropy / replica-integrity
  * check of a data platform: "are these two copies of a 100 TB table
  * identical, and if not, WHICH rows differ?", answered without ever
  * shipping or joining the full tables row-to-row. No reference
  * counterpart (SURVEY §2.6); north-star extension surface.
  *
  * Protocol (the Dynamo/Cassandra anti-entropy shape, relationalized):
  *  1. Each side serializes rows canonically and hashes them
  *     (md5 → 60-bit int), then folds each of B buckets into a digest
  *     with ORDER-INDEPENDENT aggregates: row count, bit_xor of
  *     hashes, and an overflow-proof decimal sum of hashes. One
  *     partial-combining aggregate per side — B rows out, regardless
  *     of table size.
  *  2. The two B-row summaries join on bucket; any (count, xor, sum)
  *     mismatch marks the bucket DIVERGED. (xor alone cancels
  *     duplicate pairs, count alone misses swaps — the triple makes a
  *     silent bucket collision need simultaneous count+xor+sum
  *     equality over adversarial content; for deterministic data this
  *     is a fixed property, proven against the brute-force oracle.)
  *  3. Drill-down re-reads ONLY diverged buckets (broadcast semi-join
  *     on the diverged-bucket list — with B sized so a bucket is a few
  *     file-groups, this is a partition-prune, not a scan) and
  *     reports per-row-content counts that differ, i.e. a MULTISET
  *     diff: n_base vs n_other per distinct row content. An anti-join
  *     spelling is rejected — set anti-joins cannot see copy-count
  *     drift ({r,r} vs {r}).
  *
  * 100 TB design: phase 1 is the only full read of either table and
  * reduces map-side to B rows; nothing row-level crosses the network
  * unless its bucket already proved diverged, so the drill-down cost
  * is |diverged buckets| / B of the table, not the table.
  */
object MerkleDiff {

  /** Canonical 60-bit row digest: md5 over the '|'-joined canonical
    * field encodings (caller supplies engine-portable ones: ints as-is,
    * doubles pre-quantized, timestamps pre-formatted), nulls as '~'.
    */
  def rowDigest(fields: Seq[Column]): Column =
    conv(substring(md5(concat_ws("|",
      fields.map(f => coalesce(f.cast("string"), lit("~"))): _*)), 1, 15),
      16, 10).cast("long")

  /** B-row bucket summary: (bucket, n, xor, hsum). */
  def bucketSummary(rows: DataFrame, digest: Column, buckets: Int): DataFrame =
    rows.select(pmod(digest, lit(buckets.toLong)).as("bucket"),
      digest.as("_h"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), bit_xor(col("_h")).as("x"),
        sum(col("_h").cast("decimal(38,0)")).as("hsum"))

  /** Multiset row diff restricted to diverged buckets. `keyCols` are
    * display columns carried through for actionability (functionally
    * determined by the row content, so safe to group by alongside the
    * digest). Output: (bucket, keyCols..., n_base, n_other) for every
    * distinct row content whose copy count differs between sides.
    */
  /** The per-replica digest table (bucket, _h, keys...) — the state an
    * anti-entropy system MAINTAINS (incrementally, on write) rather
    * than recomputes: reconciliation then never touches the raw table.
    * [[diffDigested]] consumes two of these.
    */
  def digestTable(
      df: DataFrame,
      digest: Column,
      keyCols: Seq[String],
      buckets: Int): DataFrame =
    df.select(pmod(digest, lit(buckets.toLong)).as("bucket") +:
      digest.as("_h") +: keyCols.map(col): _*)

  /** One-shot diff of two raw tables. Each side is digested ONCE into a
    * checkpointed projection reused by both the bucket summary and the
    * drill-down — without this the two-branch plan re-scans and
    * re-hashes everything for the drill-down (`ScaleBench merkle_diff` caught
    * it: 4 scans lost to the brute-force diff's 2 on wall-clock even
    * with a 7× shuffle cut). When digest tables are already maintained
    * (the steady-state protocol), call [[diffDigested]] on them
    * directly and skip the raw scans entirely.
    *
    * The two sides' digest passes are INDEPENDENT, so their eager
    * checkpoints are submitted from two driver threads and awaited
    * (guide §2.6 — actions are only sequential because driver code
    * calls them sequentially): wall cost is max(side) instead of
    * base + other. Threads are joined before returning; nothing about
    * the session leaks.
    *
    * @param repartitionInput spread each side across the cluster BEFORE
    *        the digest projection — the md5-per-row pass is the only
    *        full-data compute here, and when the scan arrives as a few
    *        large splits it is scan-parallelism-bound (k8 at sf0.1:
    *        3 tasks on 32 cores). Caller-decided, same contract as
    *        TextOps.nearDupPairs: pointless when the table already
    *        scans wide.
    */
  def diff(
      base: DataFrame,
      other: DataFrame,
      digest: Column,
      keyCols: Seq[String],
      buckets: Int,
      repartitionInput: Boolean = false): DataFrame = {
    def spread(df: DataFrame): DataFrame =
      if (repartitionInput)
        df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      else df
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fb = Future(
      digestTable(spread(base), digest, keyCols, buckets).localCheckpoint(true))
    val fo = Future(
      digestTable(spread(other), digest, keyCols, buckets).localCheckpoint(true))
    diffDigested(Await.result(fb, Duration.Inf), Await.result(fo, Duration.Inf),
      keyCols)
  }

  /** Reconcile two (materialized) digest tables — see [[diff]]. */
  def diffDigested(
      db: DataFrame,
      dn: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    def summary(d: DataFrame): DataFrame =
      d.groupBy("bucket")
        .agg(count(lit(1)).as("n"), bit_xor(col("_h")).as("x"),
          sum(col("_h").cast("decimal(38,0)")).as("hsum"))
    val diverged = summary(db).as("b")
      .join(summary(dn).as("o"), Seq("bucket"), "full_outer")
      .filter(
        col("b.n").isNull || col("o.n").isNull ||
          col("b.n") =!= col("o.n") || col("b.x") =!= col("o.x") ||
          col("b.hsum") =!= col("o.hsum"))
      .select(col("bucket"))
    // Group on (bucket, digest) only — the digest determines the full
    // row content including the display keys (carried via min), so the
    // reconciliation join stays null-safe even when key columns are
    // null. Copy counts per distinct content = multiset semantics.
    def sideCounts(d: DataFrame, nCol: String): DataFrame =
      d.join(broadcast(diverged), Seq("bucket"), "left_semi")
        .groupBy(col("bucket"), col("_h"))
        .agg(count(lit(1)).as(nCol), keyCols.map(k => min(col(k)).as(k)): _*)
    sideCounts(db, "n_base").as("b")
      .join(sideCounts(dn, "n_other").as("o"),
        Seq("bucket", "_h"), "full_outer")
      .select(
        col("bucket") +:
          keyCols.map(k => coalesce(col(s"b.$k"), col(s"o.$k")).as(k)) :+
          coalesce(col("n_base"), lit(0L)).as("n_base") :+
          coalesce(col("n_other"), lit(0L)).as("n_other"): _*)
      .filter(col("n_base") =!= col("n_other"))
  }
}
