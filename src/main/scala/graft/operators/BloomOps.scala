package graft.operators

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-prefiltered anti-join — the scale spelling of "remove every row
  * whose key appears in a base set" (decontamination against a benchmark
  * index, dedup against yesterday's sha index, suppression lists).
  *
  * The plain spelling shuffles the ENTIRE probe side on the key to meet
  * the base in a sort-merge anti-join — at 100 TB that shuffle write is
  * the job. But an anti-join only needs the exact join for rows that
  * MIGHT be in the base: a Bloom filter built over the base keys
  * classifies every probe row with zero shuffle (the filter ships inside
  * the plan and probes inside whole-stage codegen), no false negatives —
  * so `bloom=false` rows are emitted directly, and only the
  * `true_members + fpp·|probe|` sliver pays the exchange:
  *
  *   result = probe[¬maybe] ∪ (probe[maybe] ANTI⋈ base)   ≡ probe ANTI⋈ base
  *
  * The identity is exact (no false negatives), so the operator is fully
  * hash-oracle-checkable against the plain `NOT IN` — approximation
  * changes the PLAN, never the ANSWER.
  *
  * Cost model, stated honestly: the two branches each scan the probe
  * (columnar, pruned, no exchange) — two cheap scans replace one
  * full-corpus shuffle write+sort+read; the win is the shuffle-bytes
  * factor, which [[graft.ScaleBench]] `bloom_anti_join` pins
  * empirically. The filter
  * itself is built by ONE distributed aggregate over the base
  * (`stat.bloomFilter` — partial filters OR-merged, driver holds the
  * final ~1.2 bytes/key at 1% FPR) and is plan-embedded: sensible to
  * ~10⁸ base keys (~120 MB); past that, shard the base and apply one
  * filter per shard, or accept the plain shuffle join — the crossover is
  * a deployment decision, not something to hide in a default.
  *
  * Null probe keys never match an anti-join (NULL = x is never TRUE), so
  * the plain spelling EMITS them; `maybe` coalesces NULL to true, routing
  * them through the exact anti-join, which emits them too — identical
  * semantics, unit-pinned.
  */
object BloomOps {

  /** Serialized Bloom filter over `build`'s `key` column (string or
    * long), built distributed. `expectedItems < 0` means "count the
    * build side first" — one cheap agg over the SMALL side; pass the
    * known cardinality to skip it.
    */
  def buildFilterBytes(build: DataFrame, key: String,
      expectedItems: Long = -1L, fpp: Double = 0.03): Array[Byte] = {
    require(fpp > 0 && fpp < 1, s"fpp ($fpp) must be in (0, 1)")
    val n = if (expectedItems >= 0) expectedItems else build.count()
    val bf: BloomFilter = build.stat.bloomFilter(key, n.max(1L), fpp)
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Membership probe column against [[buildFilterBytes]] output:
    * `false` is definitive absence, `true` means verify exactly, NULL
    * key yields NULL.
    */
  def mightContain(key: Column, filterBytes: Array[Byte]): Column =
    call_function("bloom_might_contain", key, lit(filterBytes))

  /** `probe ANTI⋈ base` with the bloom fast path. Result is exactly the
    * plain left_anti join on `key` (row set, not order).
    */
  def bloomAntiJoin(probe: DataFrame, base: DataFrame, key: String,
      expectedItems: Long = -1L, fpp: Double = 0.03): DataFrame = {
    val bytes = buildFilterBytes(base, key, expectedItems, fpp)
    // NULL keys must take the exact path (anti-join emits them).
    val maybe = coalesce(mightContain(col(key), bytes), lit(true))
    val clean = probe.filter(!maybe)
    val verified = probe.filter(maybe)
      .join(base.select(col(key)), Seq(key), "left_anti")
    clean.unionByName(verified)
  }
}
