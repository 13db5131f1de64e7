package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.LocalFinish

/** Text-pipeline operators for LLM training-data curation: exact / near
  * deduplication, document fingerprinting, SimHash, and per-document text
  * statistics. None of this exists in the reference (SURVEY §2.6) — it is
  * the BASELINE.json north-star extension surface, built Spark-first.
  *
  * Scale design (the 100 TB story):
  *  - everything is Catalyst `Column` expressions or hash-partitioned
  *    aggregations — no driver collects, no UDFs, no cross joins;
  *  - exact dedup shuffles once on the content hash (high cardinality,
  *    near-uniform — no skew);
  *  - near-dup candidate generation is banded MinHash-LSH: candidate pairs
  *    come from an EQUI-JOIN on (band, band-key), never an all-pairs
  *    product. An O(n²) similarity join over 100 TB of documents is
  *    rejected by construction — only documents sharing a band bucket are
  *    compared, and the per-bucket fan-out is bounded by corpus
  *    duplication, not corpus size;
  *  - the hash family is md5-based (seeded by prefixing the seed index),
  *    so signatures are deterministic across engines and runs — required
  *    by the DuckDB oracle and useful operationally (incremental dedup
  *    runs agree with historical ones).
  */
object TextOps {

  /** Round a double ratio to 6 dp with pure IEEE ops that evaluate
    * bit-identically in Spark and DuckDB (`floor(x*1e6+0.5)/1e6`).
    */
  def round6(c: Column): Column = floor(c * 1000000.0 + 0.5) / 1000000.0

  /** Exact ⌊a/b⌋ for NONNEGATIVE decimal(38,0) columns at any scale:
    * Spark decimal division rounds HALF-UP at the result scale, so a
    * bare `floor` can read one high vs an engine that divides exactly
    * (DuckDB's integer `//`); the q·b > a probe detects a bumped
    * quotient and corrects it. (Long `DIV` is exact but overflows
    * where these products live — that is why callers are in decimal
    * at all.)
    */
  def floorDivDec(a: Column, b: Column): Column = {
    val q = floor(a / b).cast("decimal(38,0)")
    (q - when(q * b > a, 1).otherwise(0)).cast("decimal(38,0)")
  }

  /** Exact toward-zero a/b for decimal(38,0) with b > 0 and ANY-sign
    * `a` — the semantics Spark's long `DIV` and DuckDB's `//` share,
    * for quantities (residuals, deltas) that can be negative where
    * [[floorDivDec]]'s floor would disagree with the engines'
    * truncation. Sign-split so each side divides a nonnegative value.
    */
  def truncDivDec(a: Column, b: Column): Column =
    when(a >= 0, floorDivDec(a, b)).otherwise(-floorDivDec(-a, b))

  /** Whitespace word split (the corpus is single-space separated). */
  def words(text: Column): Column = split(text, " ")

  /** Word n-gram shingles from a pre-split word-array column; fewer than
    * `n` words → empty array. (Guarded because Spark `sequence(1, k)` with
    * k<1 DESCENDS instead of returning empty.)
    *
    * PERF: pass a materialized array column (own projection step), not
    * `split(...)` inline — the lambda references `w` n+2 times and Spark
    * re-evaluates a nested non-trivial expression per reference, so an
    * inlined split costs ~(n+2)× per shingle (measured 4.3s → 0.6s on a
    * 5k-doc explode).
    */
  /** Evaluate `a` ONCE per row and hand the bound value to `f` — the
    * lambda-variable binding trick (transform over a one-element
    * array). Use whenever an expression is referenced several times
    * inside a higher-order-function lambda: HOF lambdas defeat
    * codegen's common-subexpression elimination, so an unbound
    * reference re-evaluates its whole subtree per lambda iteration
    * (measured 20× on the 10-gram postings build, see
    * [[shinglesFromWords]]).
    */
  def bindOnce(a: Column)(f: Column => Column): Column =
    element_at(transform(array(a), f), 1)

  def shinglesFromWords(w: Column, n: Int): Column =
    // `w` is BOUND to a lambda variable (transform over a 1-element
    // array) so it is evaluated ONCE per row. Inlining it directly
    // would re-evaluate the whole `w` expression inside every
    // element_at — n × |shingles| times per row; higher-order-function
    // lambdas defeat codegen's common-subexpression elimination, and a
    // caller passing `words(text)` unprojected paid ~20× (measured
    // 10.6 s → 0.5 s on the sf0.1 10-gram postings build).
    bindOnce(w) { arr =>
      when(size(arr) >= n,
        transform(sequence(lit(1), size(arr) - (n - 1)),
          i => concat_ws(" ",
            (0 until n).map(k => element_at(arr, i + lit(k))): _*)))
        .otherwise(array().cast("array<string>"))
    }

  /** Convenience single-expression form (fine for small inputs / tests;
    * prefer [[shinglesFromWords]] over a pre-projected split in hot
    * paths).
    */
  def wordShingles(text: Column, n: Int): Column =
    shinglesFromWords(words(text), n)

  /** Seeded string hash for the MinHash family: `md5("<seed>|" + s)`.
    * Lowercase hex in both Spark and DuckDB; the string MIN of the hex is
    * the min-hash (order on hex strings = order on the 128-bit value).
    */
  def seededMd5(seed: Int, s: Column): Column = md5(concat(lit(s"$seed|"), s))

  /** Exact content dedup: keep-first (lowest `orderCol`) per content hash,
    * annotated with the copy count. Keep-first under a total ascending
    * order is argmin, expressed as `min_by(payload, orderCol)` + `count`
    * in ONE hash aggregation: the map-side partial combine ships ~|keys|
    * rows per partition instead of every row, and no per-key sort runs —
    * at 100 TB that is the difference between a combine-style agg and the
    * full-data sort a row_number window would do. `orderCol` must be
    * unique per row (a total order), which every caller's ingestion id
    * satisfies.
    */
  def exactDedup(df: DataFrame, textCol: String, orderCol: String): DataFrame = {
    val payload = df.columns
    df.withColumn("content_sha", sha2(col(textCol), 256))
      .groupBy("content_sha")
      .agg(
        min_by(struct(payload.map(col): _*), col(orderCol)).as("_first"),
        count(lit(1)).as("n_copies"))
      .select(payload.map(n => col(s"_first.`$n`").as(n))
        :+ col("content_sha") :+ col("n_copies"): _*)
  }

  /** Bag-of-words fingerprint: md5 of the sorted distinct word list.
    * Invariant to word order and repetition — catches shuffled/near-exact
    * rewrites that byte-hashing misses.
    */
  def wordsetFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(words(text)))))

  /** One-permutation document min-hash (cheapest fingerprint): the min
    * md5 over the document's words.
    */
  def minWordHash(text: Column): Column =
    array_min(transform(words(text), w => md5(w)))

  /** MinHash-LSH near-duplicate pairs over `idCol`/`textCol`.
    *
    * Pipeline: shingle → explode distinct → per-doc min-hash signature
    * (`numBands*rowsPerBand` seeded hashes, one groupBy) → per-band key =
    * md5 of the band's signature slice → self-EQUI-join on (band, key) →
    * exact Jaccard verification on the candidate pairs only.
    *
    * With r rows/band and b bands, a pair with Jaccard J collides with
    * probability 1-(1-J^r)^b — the standard S-curve; (r=3, b=4) centers
    * the threshold near (1/b)^(1/r) ≈ 0.63.
    *
    * Returns (doc_a, doc_b, ca, cb, inter, jaccard) for verified pairs
    * with jaccard ≥ `threshold`.
    *
    * @param materialize hook applied to the per-doc signature table, which
    *        feeds three consumers (both sides of the band self-join plus
    *        the Jaccard verify) — column pruning specializes each branch's
    *        aggregate, so without materialization the explode+hash pass
    *        runs up to three times. The default is identity (recompute):
    *        correct, leak-free, and cheap at test scale. At 100 TB pass a
    *        checkpointer (`_.localCheckpoint()` or a parquet round-trip)
    *        whose lifecycle YOU control — an earlier revision persisted
    *        internally and leaked cached blocks into the caller's session
    *        with no way to free them, which a library must not do.
    *        (Rejected by measurement: carrying the shingle sets through
    *        the band stack to collapse perDoc to one consumer pair — it
    *        computes the explode+hash pass once but ships each set
    *        numBands× through the band-join shuffle and verifies each
    *        pair once per colliding band, netting 3.5 s vs 2.5 s at
    *        sf0.1; at 100 TB the set-carry shuffle inflation only gets
    *        worse relative to a checkpointed signature table.)
    * @param repartitionInput spread the corpus across the cluster BEFORE
    *        the shingle explode. Pass true when the scan is under-parallel
    *        (a small corpus file arriving as one split would serialize the
    *        explode × numHashes onto one task); leave false when the input
    *        is already well partitioned — the groupBy has its own exchange
    *        and an extra full shuffle of the raw text would be pure waste.
    *        Caller-decided like `materialize`: an earlier revision guessed
    *        via `df.rdd.getNumPartitions`, which forces physical planning
    *        of the whole upstream plan on every call and misfires for
    *        shuffle outputs narrower than defaultParallelism.
    */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numBands: Int = 4,
      rowsPerBand: Int = 3,
      threshold: Double = 0.5,
      materialize: DataFrame => DataFrame = identity,
      repartitionInput: Boolean = false,
      hotBandCap: Int = Int.MaxValue): DataFrame = {
    val perDoc = materialize(
      minhashState(df, idCol, textCol, shingleN, numBands * rowsPerBand,
        repartitionInput))
    val bands = bandRows(perDoc, numBands, rowsPerBand)
    verifyJaccard(bucketPairs(bands, BandKey, hotCap = hotBandCap),
      perDoc, perDoc, threshold)
  }

  /** The bucket key of [[bandRows]]. */
  private[graft] val BandKey = Seq("band", "bkey")

  /** Distinct candidate pairs from the equal-key bucket self-join every
    * near-duplicate generator runs: rows of `keyed` (a `doc` column, the
    * `keyCols` bucket key and the `carry` columns) pair with every other
    * row of their bucket. Returns (doc_a, doc_b, then `<c>_a`, `<c>_b` for
    * each carried column `c`) with doc_a < doc_b, once per pair however
    * many buckets it shares.
    *
    * The self-join is quadratic PER BUCKET: a hot key — 10⁴
    * near-identical boilerplate docs all landing on one bucket — yields
    * ~5·10⁷ candidates from that bucket alone, the one adversarial input
    * that defeats the "bucket sizes are bounded by true local
    * similarity" reading (`ScaleBench neardup_skew` measures it).
    * `hotCap` bounds it the way X148 caps basket fan-out: buckets with
    * more than `hotCap` docs contribute STAR candidates (every doc paired
    * with the bucket's min doc, whose carried columns come along)
    * instead of all pairs — O(n) per hot bucket instead of O(n²). For
    * the near-identical cluster the cap targets, every member still
    * verifies against the representative, so duplicate DETECTION (the
    * downstream CC/grouping input) is preserved; what's traded away is
    * the full pair LIST inside oversized buckets (pairs joined only
    * through a hot bucket and dissimilar to its representative can
    * drop). Cold buckets are untouched, so the default cap = unbounded
    * is the exact classical semantics the oracles replay.
    *
    * Under a finite cap `keyed` is pinned: it feeds the one combine agg
    * that sizes every bucket and names its representative, the size
    * join, and both pair arms — unpinned, the hash pipeline upstream
    * (minhash state, simhash shingling, image decode) recomputes once
    * per consumer (measured 2.6x on dedup_coverage at sf0.1).
    */
  private[graft] def bucketPairs(keyed: DataFrame, keyCols: Seq[String],
      carry: Seq[String] = Nil, hotCap: Int = Int.MaxValue): DataFrame = {
    val out = Seq("doc_a", "doc_b") ++
      carry.flatMap(c => Seq(s"${c}_a", s"${c}_b"))
    def arm(df: DataFrame, s: String) = df.select(keyCols.map(col) ++
      (col("doc").as(s"doc_$s") +: carry.map(c => col(c).as(s"${c}_$s"))): _*)
    def allPairs(df: DataFrame) = arm(df, "a").join(arm(df, "b"), keyCols)
      .filter(col("doc_a") < col("doc_b"))
      .select(out.map(col): _*)
    if (hotCap == Int.MaxValue) allPairs(keyed).distinct()
    else {
      val pinned = keyed.localCheckpoint(true)
      val stats = pinned.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("_bn"), min("doc").as("_rep") +:
          carry.map(c => min_by(col(c), col("doc")).as(s"_rep_$c")): _*)
      val sized = pinned.join(stats, keyCols)
      // star: rep = bucket min, so (rep, doc) is already canonical
      val star = sized
        .filter(col("_bn") > hotCap && col("doc") =!= col("_rep"))
        .select(col("_rep").as("doc_a") +: col("doc").as("doc_b") +:
          carry.flatMap(c => Seq(col(s"_rep_$c").as(s"${c}_a"),
            col(c).as(s"${c}_b"))): _*)
      allPairs(sized.filter(col("_bn") <= hotCap)).unionByName(star)
        .distinct()
    }
  }

  /** Banded (doc, band, bkey) rows for the skew bench / tests — the
    * signature table is checkpointed because the caller fans out over
    * the band rows repeatedly. */
  private[graft] def bandRowsForTest(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, numBands: Int = 4,
      rowsPerBand: Int = 3): DataFrame =
    bandRows(
      minhashState(df, idCol, textCol, shingleN, numBands * rowsPerBand,
        repartitionInput = false).localCheckpoint(true),
      numBands, rowsPerBand)

  /** Per-doc MinHash state in ONE explode + ONE hash aggregation:
    * `numHashes` min-hashes AND the distinct shingle set (collect_set
    * dedups, so no separate distinct() shuffle, and set size IS the
    * distinct count). Columns: (doc, h0..h{n-1}, ss, c). Per-doc shingle
    * sets are bounded by document length, so a per-row array is safe.
    */
  private def minhashState(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, repartitionInput: Boolean): DataFrame = {
    val base = df.select(col(idCol).as("doc"), words(col(textCol)).as("w"))
    val wide = if (repartitionInput) base.repartition(col("doc")) else base
    val exploded =
      wide.select(col("doc"), explode(shinglesFromWords(col("w"), shingleN)).as("s"))
    val sigAggs = (0 until numHashes).map(i => min(seededMd5(i, col("s"))).as(s"h$i")) :+
      collect_set("s").as("ss")
    exploded.groupBy("doc").agg(sigAggs.head, sigAggs.tail: _*)
      .withColumn("c", size(col("ss")).cast("long"))
  }

  /** (doc, band, bkey) rows from a [[minhashState]] frame — one stack
    * fan-out, band key = md5 of the band's signature slice.
    */
  private def bandRows(perDoc: DataFrame, numBands: Int, rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until numBands).map { b =>
      md5(concat((0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}")): _*))
        .as(s"b$b")
    }
    val stackExpr = (0 until numBands).map(b => s"$b, b$b").mkString(", ")
    perDoc.select(col("doc") +: bandCols: _*)
      .selectExpr("doc", s"stack($numBands, $stackExpr) as (band, bkey)")
  }

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs against
    * the two sides' shingle sets; intersection size is order-independent.
    */
  private def verifyJaccard(cand: DataFrame, perDocA: DataFrame,
      perDocB: DataFrame, threshold: Double): DataFrame =
    cand
      .join(perDocA.select(col("doc").as("doc_a"), col("ss").as("sa"), col("c").as("ca")), "doc_a")
      .join(perDocB.select(col("doc").as("doc_b"), col("ss").as("sb"), col("c").as("cb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard",
        round6(col("inter") / (col("ca") + col("cb") - col("inter"))))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "ca", "cb", "inter", "jaccard")

  /** BIPARTITE MinHash-LSH near-dup: pairs between a NEW batch (side a)
    * and an existing BASE corpus (side b) — the incremental form every
    * production pipeline runs ("dedup tonight's crawl against the corpus
    * we already have") instead of re-self-joining the whole corpus.
    *
    * Same banded candidate generation as [[nearDupPairs]], but the band
    * join is batch-bands × base-bands, so candidate work scales with
    * |batch| collisions, not |corpus|²; the base side's signatures are
    * recomputed here, but in a real incremental pipeline they'd be the
    * PERSISTED signature table from previous runs — pass `materializeBase`
    * as a reader of that table's parquet to get that behavior.
    */
  def nearDupAgainstBase(
      batch: DataFrame,
      base: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numBands: Int = 4,
      rowsPerBand: Int = 3,
      threshold: Double = 0.5,
      materializeBatch: DataFrame => DataFrame = identity,
      materializeBase: DataFrame => DataFrame = identity,
      repartitionInput: Boolean = false): DataFrame = {
    val numHashes = numBands * rowsPerBand
    val pa = materializeBatch(
      minhashState(batch, idCol, textCol, shingleN, numHashes, repartitionInput))
    val pb = materializeBase(
      minhashState(base, idCol, textCol, shingleN, numHashes, repartitionInput))
    val cand = bandRows(pa, numBands, rowsPerBand)
      .select(col("band"), col("bkey"), col("doc").as("doc_a"))
      .join(bandRows(pb, numBands, rowsPerBand)
        .select(col("band"), col("bkey"), col("doc").as("doc_b")), BandKey)
      .select("doc_a", "doc_b")
      .distinct()
    verifyJaccard(cand, pa, pb, threshold)
  }

  /** Incremental dedup decision per batch document against a base corpus:
    * exact duplicates via content-sha equi-join (near-unique key, no
    * skew), near duplicates via [[nearDupAgainstBase]]. Returns one row
    * per batch doc: (idCol, content_sha, exact_dup, n_near, keep) with
    * keep = neither exact nor near duplicate of the base.
    */
  def incrementalDedup(
      batch: DataFrame,
      base: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      repartitionInput: Boolean = false): DataFrame = {
    val near = nearDupAgainstBase(batch, base, idCol, textCol,
      shingleN = shingleN, threshold = threshold,
      repartitionInput = repartitionInput)
      .groupBy("doc_a").agg(count(lit(1)).as("n_near"))
    val baseSha = base.select(sha2(col(textCol), 256).as("_bsha")).distinct()
    batch.select(col(idCol), sha2(col(textCol), 256).as("content_sha"))
      .join(baseSha, col("content_sha") === col("_bsha"), "left")
      .join(near.withColumnRenamed("doc_a", idCol), Seq(idCol), "left")
      .select(col(idCol), col("content_sha"),
        col("_bsha").isNotNull.as("exact_dup"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        (col("_bsha").isNull && col("n_near").isNull).as("keep"))
  }

  /** Winnowing fingerprint (the MOSS algorithm): hash every shingle,
    * slide a window of `windowK` consecutive hashes, keep each window's
    * minimum, and fingerprint the document as the md5 of the sorted
    * distinct selected hashes. Guarantees any shared run of ≥
    * `windowK + shingleN - 1` words between two documents contributes a
    * shared selected hash — positional robustness that a plain min-hash
    * lacks — while selecting only ~2/(windowK+1) of all hashes.
    * Pure array expressions; one narrow projection.
    */
  def winnowFingerprint(w: Column, shingleN: Int, windowK: Int): Column =
    // hashes is referenced inside the window lambda — bindOnce, or the
    // whole shingle+md5 subtree re-evaluates per window position
    // (quadratic per row)
    bindOnce(transform(shinglesFromWords(w, shingleN), s => md5(s))) { hashes =>
      val n = size(hashes)
      val mins = when(n >= windowK,
        transform(sequence(lit(1), n - (windowK - 1)),
          i => array_min(slice(hashes, i, lit(windowK)))))
        .otherwise(when(n > 0, array(array_min(hashes)))
          .otherwise(array().cast("array<string>")))
      md5(concat_ws("", array_sort(array_distinct(mins))))
    }

  /** 60-bit SimHash over the document's words (frequency-weighted).
    *
    * Token hash = first 15 hex digits of md5 (60 bits, sign-safe in a
    * LONG); per bit, sum +1/-1 over tokens; simhash bit b = 1 iff the sum
    * is positive. Computed as one explode + one groupBy with 60 codegen'd
    * conditional sums — a single hash-partitioned aggregation, no UDF.
    */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("doc"), explode(words(col(textCol))).as("w"))
    val h = conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long")
    val bitSums = (0 until 60).map(b =>
      sum(when(shiftright(h, b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"bs$b"))
    val agg = tok.groupBy("doc").agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 60)
      .map(b => when(col(s"bs$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    agg.select(col("doc").as(idCol), sim.as("simhash"))
  }

  /** Hamming distance between two 60-bit SimHashes (near-dup radius
    * query: distance ≤ k).
    */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate pairs within Hamming distance `maxHamming`,
    * blocked by the PIGEONHOLE principle (the Manku/Google simhash-dedup
    * scheme): split the `bits`-bit simhash into `chunks` equal chunks —
    * two hashes within Hamming distance k < chunks must agree EXACTLY on
    * at least one chunk, so every qualifying pair is found by an
    * EQUI-join on (chunk index, chunk value) and the all-pairs O(n²)
    * comparison is rejected by construction. Candidates sharing several
    * chunks are deduped before the exact Hamming verify.
    *
    * Per-chunk fan-out is bounded by how many documents collide on a
    * 15-bit chunk value — at 100 TB that is corpus-duplication-bound,
    * same argument as the MinHash bands in [[nearDupPairs]].
    */
  def simHashNearDup(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, chunks: Int = 4, bits: Int = 60,
      hotBucketCap: Int = Int.MaxValue): DataFrame =
    hammingNearDupPairs(simHash(df, idCol, textCol), idCol, "simhash",
      maxHamming, chunks, bits, hotBucketCap)

  /** Pigeonhole bucket keys of a `bits`-bit hash split into `chunks`
    * equal chunks: one (ki, kv) struct per `subsetSize`-sized subset of
    * the chunks, ki the subset's index and kv its chunk values packed
    * side by side into one LONG (positional shifts), so the join key
    * stays fixed-width integer, never a string concat. Two hashes agree
    * on a key exactly when they agree on every chunk of its subset.
    * `subsetSize = 1` is the single-chunk scheme, (chunk index, chunk
    * value); `chunks − maxHamming` is the combinatorial one
    * ([[hammingNearDupPairsBlocked]]). Works for the full 64 bits —
    * arithmetic shift-right sign-extension is masked off per chunk.
    */
  private[graft] def pigeonholeKeys(hashCol: Column, chunks: Int, bits: Int,
      subsetSize: Int): Column = {
    require(bits % chunks == 0, s"$bits bits must split evenly into $chunks chunks")
    val chunkBits = bits / chunks
    val mask = (1L << chunkBits) - 1
    val subsets = (0 until chunks).combinations(subsetSize).toSeq
    array(subsets.zipWithIndex.map { case (ss, si) =>
      val packed = ss.zipWithIndex.map { case (c, pos) =>
        shiftleft(shiftright(hashCol, c * chunkBits).bitwiseAND(lit(mask)),
          pos * chunkBits)
      }.reduce(_ + _)
      struct(lit(si).as("ki"), packed.as("kv"))
    }: _*)
  }

  /** (doc, sim, ki, kv) rows: every doc of `hashed` once per
    * [[pigeonholeKeys]] bucket, carrying its hash as `sim`. */
  private def pigeonholeRows(hashed: DataFrame, idCol: String,
      hashCol: String, chunks: Int, bits: Int, subsetSize: Int): DataFrame =
    hashed.select(col(idCol).as("doc"), col(hashCol).as("sim"),
      inline(pigeonholeKeys(col(hashCol), chunks, bits, subsetSize)))

  /** The pigeonhole key of [[pigeonholeRows]]. */
  private val PigeonholeKey = Seq("ki", "kv")

  /** Exact Hamming verify of (doc_a, doc_b, sim_a, sim_b) candidates. */
  private def verifyHamming(cands: DataFrame, maxHamming: Int): DataFrame =
    cands
      .withColumn("hamming", hamming(col("sim_a"), col("sim_b")))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")

  /** Pigeonhole-blocked near-dup pairs over ANY per-doc integer hash
    * column (SimHash, block-mean perceptual hash, …): two hashes within
    * Hamming distance k < chunks must agree exactly on ≥1 of `chunks`
    * equal bit-chunks, so candidates come from an equi-join on
    * (chunk index, chunk value) and all-pairs is rejected by
    * construction. Works for the full 64 bits.
    *
    * Chunk buckets are the simhash analog of LSH band buckets, and on a
    * corpus with heavily correlated content (the r13 sf1 sweep measured
    * 18x growth at 10x data through dedup_coverage's loose parameters) a
    * hot (chunk, value) bucket goes quadratic exactly like a hot band.
    * `hotBucketCap` applies the [[bucketPairs]] star cap; every star
    * member is still Hamming-verified against the representative.
    */
  def hammingNearDupPairs(hashed: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, chunks: Int, bits: Int,
      hotBucketCap: Int = Int.MaxValue): DataFrame = {
    require(chunks > maxHamming,
      s"pigeonhole needs chunks ($chunks) > maxHamming ($maxHamming)")
    verifyHamming(
      bucketPairs(pigeonholeRows(hashed, idCol, hashCol, chunks, bits, 1),
        PigeonholeKey, carry = Seq("sim"), hotCap = hotBucketCap),
      maxHamming)
  }

  /** Probe-vs-index form of [[hammingNearDupPairs]] for incremental
    * pipelines: candidate pairs couple a PROBE doc with any corpus doc
    * sharing a bit-chunk — the corpus×corpus pair space is never
    * enumerated, which is the difference between a nightly batch costing
    * |batch|·collisions and re-running the full-corpus dedup. The
    * chunked corpus projection is exactly the (chunk, value) posting
    * table a maintained dedup service persists; the probe side hashes
    * into the same buckets and equi-joins it. Returns every pair with at
    * least one probe member (probe↔corpus and probe↔probe when the
    * corpus contains the probe docs), normalized to doc_a < doc_b —
    * byte-identical to the full self-join's pairs restricted to that
    * subset (pinned in LlmOpsSpec and LlmProps).
    */
  def hammingNearDupProbe(corpusHashed: DataFrame, probeHashed: DataFrame,
      idCol: String, hashCol: String, maxHamming: Int, chunks: Int,
      bits: Int): DataFrame = {
    require(chunks > maxHamming,
      s"pigeonhole needs chunks ($chunks) > maxHamming ($maxHamming)")
    def chunked(df: DataFrame) =
      pigeonholeRows(df, idCol, hashCol, chunks, bits, 1)
    val cands = chunked(probeHashed)
      .select(col("ki"), col("kv"), col("doc").as("pa"), col("sim").as("ha"))
      .join(chunked(corpusHashed).select(col("ki"), col("kv"),
        col("doc").as("pb"), col("sim").as("hb")), PigeonholeKey)
      .filter(col("pa") =!= col("pb"))
      // normalize orientation so probe↔probe pairs (seen from both
      // sides) collapse in the distinct
      .select(
        least(col("pa"), col("pb")).as("doc_a"),
        greatest(col("pa"), col("pb")).as("doc_b"),
        when(col("pa") < col("pb"), col("ha")).otherwise(col("hb")).as("sim_a"),
        when(col("pa") < col("pb"), col("hb")).otherwise(col("ha")).as("sim_b"))
      .distinct()
    verifyHamming(cands, maxHamming)
  }

  /** [[simHashNearDup]]'s probe-vs-index form: SimHash both sides, then
    * [[hammingNearDupProbe]].
    */
  def simHashNearDupProbe(corpus: DataFrame, probe: DataFrame,
      idCol: String, textCol: String, maxHamming: Int = 3, chunks: Int = 4,
      bits: Int = 60): DataFrame =
    hammingNearDupProbe(simHash(corpus, idCol, textCol),
      simHash(probe, idCol, textCol), idCol, "simhash", maxHamming, chunks, bits)

  /** COMBINATORIAL pigeonhole blocking (Manku et al., WWW'07 §3) — the
    * form of [[hammingNearDupPairs]] whose candidates stay linear.
    *
    * The single-chunk scheme keys buckets on ONE chunk value
    * (`bits/chunks` bits). Its candidate set is sub-quadratic only while
    * n ≪ 2^(bits/chunks): at 60 bits / 4 chunks the keys are 15 bits, so
    * by ~10⁵ documents random hashes collide constantly and candidates
    * grow as n²/2^15 — quadratic, just with a small constant. This
    * variant keys buckets on every (chunks − maxHamming)-sized SUBSET of
    * chunks: a pair within Hamming distance k ≤ maxHamming has its
    * differing bits inside at most k chunks, so some (chunks − k) chunks
    * agree exactly and the pair shares that subset's bucket — still
    * lossless by pigeonhole. The bucket key widens from bits/chunks to
    * (chunks − maxHamming) · bits/chunks bits (e.g. 30 bits for 60/6/3),
    * crushing random collisions back to n²/2^30-scale — negligible until
    * billions of documents — at the cost of C(chunks, maxHamming) bucket
    * rows per document instead of `chunks` (20 for 6/3 vs 4). Output is
    * IDENTICAL to the single-chunk scheme by construction (both verify
    * exact Hamming over lossless candidate sets).
    *
    * What `ScaleBench neardup_scale` measured (uniform 60-bit hashes plus
    * planted clusters, 1M and 4M docs, two recordings): single-chunk
    * candidates grow ×15.8 per 4× docs (61.9M → 980M), blocked ×4.07
    * (1.61M → 6.55M) — but single-chunk still ran FASTER at both sizes
    * (2.67 vs 5.25 s and 3.86 vs 33.55 s in one recording, 7.99 vs
    * 34.74 s and 29.91 vs 149.38 s in another), and its time grew only
    * ×1.4–3.7 per 4× docs: its random candidates are cheap long pairs,
    * while the blocked form builds and shuffles 5× the key rows. The
    * candidate argument wins only once single-chunk's n²/2^14 random
    * pairs dominate its time, which had not happened by 4M docs (980M
    * candidates against the blocked form's 80M key rows); the next 4×
    * of data would put single-chunk at ~15.7B candidates. Below that
    * point the single-chunk form is the faster one.
    */
  def hammingNearDupPairsBlocked(hashed: DataFrame, idCol: String,
      hashCol: String, maxHamming: Int, chunks: Int, bits: Int): DataFrame = {
    require(chunks > maxHamming,
      s"pigeonhole needs chunks ($chunks) > maxHamming ($maxHamming)")
    require(bits <= 62, s"packed subset keys need bits ($bits) <= 62")
    verifyHamming(
      bucketPairs(pigeonholeRows(hashed, idCol, hashCol, chunks, bits,
        chunks - maxHamming), PigeonholeKey, carry = Seq("sim")),
      maxHamming)
  }

  /** [[simHashNearDup]] through the combinatorial blocking: the same
    * pairs with linear candidate growth, but slower than the single-chunk
    * form up to at least 4M documents (see [[hammingNearDupPairsBlocked]]
    * for the measurements).
    */
  def simHashNearDupBlocked(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, chunks: Int = 6, bits: Int = 60): DataFrame =
    hammingNearDupPairsBlocked(simHash(df, idCol, textCol), idCol, "simhash",
      maxHamming, chunks, bits)

  /** Per-document text statistics: char/word/distinct counts, average
    * word length, type-token ratio, alphabetic token count (regex),
    * BPE-ish subword token count, bigram repetition, and stopword ratio.
    * All ratios pass through [[round6]] so they compare bit-exactly
    * across engines.
    *
    *  - `bpe_tokens`: matches of `[a-z]{1,4}|[0-9]|[^a-z0-9\s]` — long
    *    words chunk into ≤4-char subwords, digits and punctuation
    *    tokenize singly. A deterministic regex proxy for a trained BPE
    *    vocabulary (greedy leftmost matching is identical in Java regex
    *    and RE2, so it oracles exactly).
    *  - `bigram_rep`: 1 − distinct/total word bigrams — the
    *    repetition-detection signal used by LLM quality filters (high
    *    value = loopy/boilerplate text); 0 for docs with <2 words.
    */
  def textStats(df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String]): DataFrame = {
    // split once per row (own projection), not once per referencing stat
    val staged = df.select(col(idCol), col(textCol).as("_t"), words(col(textCol)).as("_w"))
    val t = col("_t")
    val w = col("_w")
    val nWords = size(w)
    val sumLens = aggregate(w, lit(0), (acc, x) => acc + length(x))
    val nStops = size(filter(w, x => x.isin(stopwords: _*)))
    val bigrams = shinglesFromWords(w, 2)
    val bigramRep = when(size(bigrams) > 0,
      round6(lit(1.0) - size(array_distinct(bigrams)) / size(bigrams).cast("double")))
      .otherwise(lit(0.0))
    staged.select(
      col(idCol),
      length(t).as("n_chars"),
      nWords.as("n_words"),
      size(array_distinct(w)).as("n_distinct"),
      round6(sumLens / nWords.cast("double")).as("avg_word_len"),
      round6(size(array_distinct(w)) / nWords.cast("double")).as("ttr"),
      regexp_count(t, lit("[a-z]+")).as("alpha_tokens"),
      regexp_count(t, lit("[a-z]{1,4}|[0-9]|[^a-z0-9\\s]")).as("bpe_tokens"),
      // chars/4 — the standard LLM token-count estimate for English text
      floor((length(t) + 3) / 4).cast("int").as("est_tokens"),
      bigramRep.as("bigram_rep"),
      round6(nStops / nWords.cast("double")).as("stop_ratio"))
  }

  /** Fraction of a document's word-n-gram occurrences claimed by its
    * single most frequent n-gram — the repetition signal behind the
    * Gopher/MassiveText quality rules (Rae et al. 2021, Table A1:
    * "fraction of characters in most common n-gram"): loopy or
    * boilerplate text concentrates mass on one n-gram. Two
    * partial-combine hash aggregations (doc×gram, then doc); the
    * (doc, gram) key is high-cardinality and skew-free. Documents with
    * fewer than `n` words have no n-grams and are ABSENT from the
    * output — callers left-join and coalesce to 0.
    */
  def topNgramFraction(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(col(idCol).as("doc"),
        explode(shinglesFromWords(words(col(textCol)), n)).as("g"))
      .groupBy("doc", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc").agg(max("c").as("_m"), sum("c").as("_t"))
      .select(col("doc"),
        round6(col("_m") / col("_t").cast("double")).as(s"top${n}gram_frac"))

  /** Split each document into fixed-size overlapping word windows — the
    * training-sample extraction step (context-window chunking) of an LLM
    * data pipeline. Chunk k covers words [1 + k·(chunkSize−overlap),
    * …+chunkSize); the final chunk may be short; a document shorter than
    * one chunk yields exactly one. Emits the chunk's sha256 so chunks
    * feed straight into [[exactDedup]]-style dedup.
    *
    * Pure array expressions + one explode — embarrassingly parallel,
    * no shuffle; the fan-out is bounded by corpus size / step.
    */
  def chunkWords(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize > overlap && overlap >= 0,
      s"need chunkSize ($chunkSize) > overlap ($overlap) >= 0")
    val step = chunkSize - overlap
    val d = df.select(col(idCol), words(col(textCol)).as("_w"))
    val n = size(col("_w"))
    val nChunks = greatest(lit(1),
      ceil((n - overlap).cast("double") / step.toDouble).cast("int"))
    d.select(col(idCol),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_idx"), col("_w"))
      .select(col(idCol), col("chunk_idx"),
        slice(col("_w"), col("chunk_idx") * step + 1, lit(chunkSize)).as("_cw"))
      .select(col(idCol), col("chunk_idx"),
        size(col("_cw")).as("n_words"),
        sha2(concat_ws(" ", col("_cw")), 256).as("chunk_sha"))
  }

  /** Exact duplicate SPANS across documents — the curation operator of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"): every k-token window is fingerprinted, and a window is a
    * duplicate iff the same window text occurs in ≥ 2 DISTINCT
    * documents. This catches shared boilerplate/quotes that whole-doc
    * MinHash/SimHash miss (the docs differ overall) and that fixed-window
    * chunk shas ([[chunkWords]]) miss too (a shared paragraph moves with
    * its offset and straddles chunk boundaries; here every window is
    * position-independent). The paper's suffix array yields MAXIMAL
    * spans; per-window flags carry the same decision information (a
    * maximal span is a run of flagged windows) while staying one
    * aggregation deep and fully distributed.
    *
    * Returns one row per input document:
    * (idCol, n_spans, n_dup_spans, max_span_docs, dup_frac) where
    * n_dup_spans counts window occurrences (with multiplicity) whose
    * text recurs in some other document.
    *
    * Scale shape: one explode (fan-out = tokens per doc, same as any
    * n-gram op) → a partial-combine aggregate on the span fingerprint
    * (near-unique key, no skew) → an equi-join of spans against the
    * ≥2-doc groups, whose fan-out is bounded by TRUE cross-document
    * duplication — the pigeonhole argument of the SimHash chunk join —
    * → a final per-doc partial-combine aggregate. No cartesian, no
    * window, no driver state. A production run swaps md5 for a cheap
    * rolling (Rabin–Karp) hash; md5 is the engine-stable spelling the
    * oracle replays.
    */
  def substringDupStats(df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int): DataFrame = {
    require(spanTokens >= 2, s"spanTokens ($spanTokens) must be >= 2")
    val d = df.select(col(idCol), words(col(textCol)).as("_w"))
    val spans = d
      .select(col(idCol), explode(shinglesFromWords(col("_w"), spanTokens)).as("_s"))
      .select(col(idCol), md5(col("_s")).as("_h"))
    val groups = spans.groupBy("_h")
      .agg(countDistinct(col(idCol)).as("_ndocs"))
      .filter(col("_ndocs") >= 2)
    val perDoc = spans.join(groups, "_h")
      .groupBy(idCol)
      .agg(count(lit(1)).as("_ndup"), max("_ndocs").as("_maxdocs"))
    d.select(col(idCol),
        greatest(lit(0), size(col("_w")) - (spanTokens - 1)).cast("long").as("n_spans"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_spans"),
        coalesce(col("_ndup"), lit(0L)).as("n_dup_spans"),
        coalesce(col("_maxdocs"), lit(0L)).as("max_span_docs"))
      .withColumn("dup_frac",
        when(col("n_spans") > 0,
          round6(col("n_dup_spans").cast("double") / col("n_spans")))
          .otherwise(lit(0.0)))
  }

  /** MAXIMAL cross-document duplicate spans — the deliverable form of
    * [[substringDupStats]]: consecutive duplicated k-token windows merge
    * into one row per maximal run (the span a curation pass would
    * actually excise, à la Lee et al. 2022's suffix-array spans).
    * Returns (idCol, span_start, span_tokens) with span_start the
    * 1-based word position and span_tokens the merged token length
    * (run length + k - 1).
    *
    * The merge is gaps-and-islands: island key = pos - rank within the
    * doc's flagged positions, one per-DOC window — partitioned by the
    * document id, so the sort is per-doc-sized and fully parallel
    * (never a global or single-partition window). Everything upstream
    * is the [[substringDupStats]] shape: explode → fingerprint agg →
    * duplication-bounded equi-join.
    */
  def maximalDupSpans(df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int): DataFrame = {
    require(spanTokens >= 2, s"spanTokens ($spanTokens) must be >= 2")
    val d = df.select(col(idCol), words(col(textCol)).as("_w"))
    val spans = d
      .select(col(idCol),
        posexplode(shinglesFromWords(col("_w"), spanTokens)).as(Seq("_p", "_s")))
      .select(col(idCol), (col("_p") + 1).cast("long").as("pos"), md5(col("_s")).as("_h"))
    val groups = spans.groupBy("_h")
      .agg(countDistinct(col(idCol)).as("_nd"))
      .filter(col("_nd") >= 2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("pos")
    spans.join(groups, "_h")
      .select(col(idCol), col("pos"))
      .withColumn("_isl", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("_isl"))
      .agg(min("pos").as("span_start"), count(lit(1)).as("_run"))
      .select(col(idCol), col("span_start"),
        (col("_run") + (spanTokens - 1)).as("span_tokens"))
  }

  /** EXACT set-similarity self-join (Jaccard >= threshold over word
    * n-gram shingle sets) with a PPJoin-style prefix filter — the
    * no-false-negatives complement to [[nearDupPairs]]'s probabilistic
    * MinHash-LSH: LSH can miss a true pair whose bands never collide;
    * this operator provably cannot, at the price of candidate counts
    * driven by real token co-occurrence instead of tuned band width.
    *
    * Prefix-filter (Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08,
    * public literature): order every doc's shingles by a GLOBAL total
    * order — ascending document frequency, rarest first, ties by token —
    * and keep only the first `|S| - ceil(tau*|S|) + 1` as the doc's
    * prefix. Jaccard(A,B) >= tau implies |A∩B| >= ceil(tau*max(|A|,|B|)),
    * and two sets whose overlap is >= t must share a token within their
    * first `|S|-t+1` tokens under any common total order — so every
    * qualifying pair shares >= 1 PREFIX token and candidates are an
    * EQUI-JOIN on the prefix token, never an all-pairs product. The
    * rare-first order makes prefix tokens the least common ones, so a
    * token shared by f docs contributes at most f²/2 candidates with f
    * bounded by genuine co-occurrence — boilerplate-scale fan-out, not
    * corpus-scale.
    *
    * Plan at 100 TB: explode+distinct on (doc, shingle) → token-frequency
    * agg (|vocab|-row table, equi-joined back — AQE broadcasts it at
    * small scale, shuffles at large; never a forced broadcast) → one
    * per-doc combine agg building the ordered set → prefix explode →
    * candidate equi-join → exact-Jaccard verify on candidates only.
    * Output schema matches [[nearDupPairs]]:
    * (doc_a, doc_b, ca, cb, inter, jaccard).
    */
  /** @param materialize applied to BOTH levels of shared state: the
    *        per-doc distinct shingle-set table (one corpus pass, consumed
    *        by the frequency agg AND the ordered-set build) and the
    *        per-doc ordered-set state (consumed by the prefix explode AND
    *        both verify sides). ReusedExchange only dedupes the shuffle
    *        write — each consumer re-runs the post-shuffle aggregation
    *        (the collect_list sort and the array transforms), which under
    *        the honest full-column action tripled the query's compute and
    *        at 32 concurrent tasks turned into GC storms (r15 bench:
    *        18 s min / 90 s median at c32 vs 6.7 s at c8). An eager
    *        localCheckpoint from the caller bounds that: each state is
    *        computed once. (The pre-r15 "checkpoint measured slower" note
    *        was taken under the old column-pruned `.count()` action and
    *        no longer holds.)
    * @param repartitionInput spread the corpus by doc BEFORE the shingle
    *        explode — same contract as [[nearDupPairs]]: pass true when
    *        the scan arrives as one split, false when the input is
    *        already parallel.
    */
  def setSimJoin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      materialize: DataFrame => DataFrame = identity,
      repartitionInput: Boolean = false): DataFrame = {
    val perDoc = materialize(setSimPerDocFromSets(
      materialize(setSimSets(df, idCol, textCol, shingleN, repartitionInput)),
      threshold))
    verifyJaccard(setSimCandidates(perDoc), perDoc, perDoc, threshold)
  }

  /** Per-doc DISTINCT shingle sets (doc, ss) in ONE explode + ONE
    * combine aggregation (collect_set dedups in the agg, so no separate
    * distinct() shuffle) — the corpus pass every set-similarity consumer
    * shares.
    */
  private[graft] def setSimSets(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int, repartitionInput: Boolean): DataFrame = {
    val base = df.select(col(idCol).as("doc"), words(col(textCol)).as("_w"))
    val wide = if (repartitionInput) base.repartition(col("doc")) else base
    wide.select(col("doc"), explode(shinglesFromWords(col("_w"), shingleN)).as("s"))
      .groupBy("doc").agg(collect_set("s").as("ss"))
  }

  /** The rare-first rank dictionary applied to a (doc, ss) set table:
    * (doc, ss, c) where tokens are replaced by their INTEGER rank under
    * the global rare-first total order (ascending document frequency,
    * ties by token — the order the prefix filter requires), `ss` is the
    * doc's sorted rank array and `c` its size. The dictionary is the
    * VernicaJoin (VLDB'10) design: exact distributed rank assignment via
    * sort + zipWithIndex over the |vocab|-row frequency table — ids are
    * unique BY CONSTRUCTION (no hash-collision caveat), ascending id
    * order IS the (freq, token) order, and every downstream step gets
    * cheaper: the candidate join keys on longs instead of shingle
    * strings, the per-doc state is a primitive long array (~4× smaller
    * than the string arrays it replaces — r15's c32 GC storms were those
    * arrays), and the verify's array_intersect takes Spark's primitive
    * codegen path (measured 6.6 s → 3.0 s on the verify stage alone at
    * sf0.1/c8). Frequencies are counted from the set table itself (each
    * (doc, s) pair appears exactly once), so ranks — and therefore
    * candidates, intersection counts, and the final output — are
    * identical to deriving them from a distinct explode of the raw
    * corpus. zipWithIndex over a totally-ordered sort is deterministic
    * (the id is the row's global rank, independent of partition
    * boundaries), so an un-materialized recompute cannot diverge.
    */
  private def rankedSets(sets: DataFrame): DataFrame = {
    val expl = sets.select(col("doc"), explode(col("ss")).as("s"))
    val freq = expl.groupBy("s").agg(count(lit(1)).as("_f"))
    val dict = sets.sparkSession.createDataFrame(
      freq.select(col("s"), col("_f")).sort("_f", "s").rdd
        .zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row(r.getString(0), i) },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("_id",
          org.apache.spark.sql.types.LongType, nullable = false))))
    expl.join(dict, "s")
      .groupBy("doc")
      .agg(sort_array(collect_list(col("_id"))).as("ss"))
      .withColumn("c", size(col("ss")).cast("long"))
  }

  /** Ordered-set state for [[setSimJoin]]: the [[rankedSets]] state plus
    * `pref`, the doc's prefix-filter slice for Jaccard ≥ `threshold`.
    */
  private[graft] def setSimPerDocFromSets(sets: DataFrame,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold ($threshold) must be in (0, 1]")
    rankedSets(sets)
      .withColumn("_plen",
        (col("c") - ceil(col("c") * lit(threshold)) + 1).cast("int"))
      .withColumn("pref", expr("slice(ss, 1, _plen)"))
      .select("doc", "ss", "c", "pref")
  }

  /** Per-doc ordered-set state from the raw corpus (test entry point —
    * tests count candidates against the brute-force pair bound).
    */
  private[graft] def setSimPerDoc(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int, threshold: Double): DataFrame =
    setSimPerDocFromSets(
      setSimSets(df, idCol, textCol, shingleN, repartitionInput = false),
      threshold)

  /** Distinct candidate pairs sharing at least one prefix token. */
  private[graft] def setSimCandidates(perDoc: DataFrame): DataFrame =
    bucketPairs(perDoc.select(col("doc"), explode(col("pref")).as("_tok")),
      Seq("_tok"))

  /** LSH recall evaluation: every TRUE pair from the exact prefix-filter
    * join ([[setSimJoin]] semantics) annotated with whether the banded
    * MinHash-LSH ([[nearDupPairs]] semantics, same shingles) also found
    * it. ONE corpus pass feeds both sides: [[minhashState]] already
    * carries the per-doc distinct shingle set alongside the signatures,
    * so the exact side's rare-first ordered state is derived from that
    * table instead of re-shingling the corpus (§2.4 — shared
    * materialized subtree; previously both pipelines were built from
    * scratch). Output: (doc_a, doc_b, jaccard, found_by_lsh).
    */
  def lshRecall(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numBands: Int = 4,
      rowsPerBand: Int = 3,
      threshold: Double = 0.5,
      materialize: DataFrame => DataFrame = identity,
      repartitionInput: Boolean = false): DataFrame = {
    val st = materialize(
      minhashState(df, idCol, textCol, shingleN, numBands * rowsPerBand,
        repartitionInput))
    val lsh = verifyJaccard(
        bucketPairs(bandRows(st, numBands, rowsPerBand), BandKey), st, st,
        threshold)
      .select(col("doc_a"), col("doc_b"), lit(true).as("_hit"))
    val perDoc = materialize(
      setSimPerDocFromSets(st.select(col("doc"), col("ss")), threshold))
    val exact = verifyJaccard(setSimCandidates(perDoc), perDoc, perDoc, threshold)
    exact.join(lsh, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        coalesce(col("_hit"), lit(false)).as("found_by_lsh"))
  }

  /** Per-document Shannon word entropy (nats) — the classic gibberish /
    * boilerplate signal: keyboard-mash and template text sit at the low
    * end, natural prose near ln(n_distinct). H = Σ (c/n)·ln(n/c) over the
    * doc's word counts.
    *
    * Cross-engine determinism: each word's contribution c·ln(n/c) is
    * quantized to INTEGER micro-nat·tokens BEFORE the per-doc sum (the
    * X61 unigram-log-prob trick) — integer addition is associative, so
    * partition count, merge order, and engine cannot change the result;
    * JVM Math.log and DuckDB ln agree bit-for-bit at these magnitudes
    * and round6 adds ~9 orders of slack.
    *
    * Scale: two partial-combine aggregations ((doc,word) then doc — the
    * (doc,word) key is skew-free) plus one per-doc equi-join of the
    * totals; no windows, no driver state. Output:
    * (doc, n_tokens, n_distinct, entropy).
    */
  def wordEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val wc = df
      .select(col(idCol).as("doc"), explode(words(col(textCol))).as("_w"))
      .groupBy("doc", "_w").agg(count(lit(1)).as("_c"))
    val tot = wc.groupBy("doc")
      .agg(sum("_c").as("n_tokens"), count(lit(1)).as("n_distinct"))
    wc.join(tot, "doc")
      .withColumn("_t",
        floor(col("_c") * log(col("n_tokens").cast("double") / col("_c"))
          * 1000000.0 + 0.5).cast("long"))
      .groupBy("doc", "n_tokens", "n_distinct")
      .agg(sum("_t").as("_st"))
      .select(col("doc"), col("n_tokens"), col("n_distinct"),
        round6(col("_st") / (col("n_tokens") * 1000000.0)).as("entropy"))
  }

  /** Distributed BPE merge-candidate counting — the inner loop of
    * byte-pair-encoding tokenizer training (Sennrich et al. 2016): count
    * every adjacent symbol pair across the corpus, weighted by word
    * frequency; the top pair is the next merge. One training round, the
    * round a 100 TB tokenizer build runs dozens of times.
    *
    * Scale design: pair generation runs over the |vocab|-row word-COUNT
    * table, not the corpus — the corpus is touched once for word counts
    * (one explode + partial-combine agg) and each distinct word then
    * emits its ≤len−1 pairs exactly once with its count as weight.
    * Top-k is `orderBy.limit` (TakeOrdered: per-partition heaps, no
    * single-partition global sort); the rank column is attached AFTER
    * the limit, over k rows. Ties at the boundary break on the pair
    * string so the cut is deterministic in any engine.
    */
  def bpePairCounts(df: DataFrame, textCol: String, topK: Int): DataFrame = {
    require(topK > 0, s"topK ($topK) must be > 0")
    val wc = df.select(explode(words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("_c"))
    val pc = wc.filter(length(col("w")) >= 2) // sequence(1,0) is the descending trap
      .select(col("_c"), explode(
        expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum("_c").cast("long").as("pair_count"))
    pc.orderBy(col("pair_count").desc, col("pair")).limit(topK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("pair_count").desc, col("pair"))))
      .select("rank", "pair", "pair_count")
  }

  /** Full BPE tokenizer TRAINING (Sennrich et al. 2016) — the iterated
    * form of [[bpePairCounts]] (which counts one round's candidates but
    * never produces a merge list): `merges` rounds of
    * count-pairs → argmax → apply-merge over the vocabulary table,
    * followed by encoding the corpus with the trained merges. Returns
    * one frame, part-tagged:
    *   - part='merge':  (rank, sym = "left right", n = pair count at
    *     selection time) — the ordered merge list, the tokenizer
    *     artifact a training pipeline ships;
    *   - part='encode': (rank = null, sym = source, n = total encoded
    *     token count per corpus source) — the number a mixture planner
    *     actually consumes, now from a TRAINED tokenizer rather than
    *     llm_token_count's BPE-ish regex estimate.
    *
    * Segmentation state is a flat string with every symbol wrapped in
    * single spaces (so adjacent symbols meet at a DOUBLE space):
    * "hello" → " h  e  l  l  o ". A merge of (a, b) is then literal
    * `replace(state, ' a  b ', ' ab ')` — both engines' replace scans
    * left-to-right without overlap, which IS greedy BPE merge order,
    * and each symbol owning its flanking spaces makes " a  a  a  a "
    * collapse to " aa  aa ", not the shared-boundary off-by-one.
    * Symbols never contain spaces ((?s) wraps EVERY char, newlines
    * included), so the representation is unambiguous and the whole
    * round — pair explode, argmax, merge application — is string
    * expressions DuckDB replays verbatim as `merges` unrolled CTE
    * blocks (the X56 kMeans unrolled-loop oracle pattern).
    *
    * Scale design: the corpus is touched ONCE (word counts, then
    * per-source word counts for the encode half — both partial-combine
    * aggs); every training round runs over the |vocab|-row table.
    * Per-round driver traffic is the argmax row alone (a 1-row collect,
    * the same scalar-aggregate exception the kMeans loop uses); the
    * merge lands back as a LITERAL in the next projection, so round r
    * is r narrow string maps over the vocab checkpoint — no joins, no
    * shuffles beyond the pair-count agg whose keys are symbol pairs.
    * Encoding reuses the trained states directly: for in-vocabulary
    * words, greedy rank-order encode ≡ the training-time segmentation,
    * so no second pass is ever computed. Ties in the argmax break on
    * the pair string — deterministic in any engine.
    */
  def bpeTrain(df: DataFrame, sourceCol: String, textCol: String,
      merges: Int): DataFrame = {
    require(merges >= 1, s"merges ($merges) must be >= 1")
    val spark = df.sparkSession
    val swc = df.select(col(sourceCol).as("source"),
        explode(words(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    var vocab = swc.groupBy("w").agg(sum("c").as("c"))
      .withColumn("st", regexp_replace(col("w"), "(?s)(.)", " $1 "))
      .localCheckpoint(true)
    val picked = Seq.newBuilder[(Long, String, Long)]
    for (r <- 1 to merges) {
      val best = vocab
        .select(col("c"), split(trim(col("st")), "  ").as("sy"))
        .filter(size(col("sy")) >= 2) // sequence(1,0) is the descending trap
        .select(col("c"), explode(expr(
          "transform(sequence(1, size(sy) - 1)," +
            " i -> concat(element_at(sy, i), ' ', element_at(sy, i + 1)))"))
          .as("pair"))
        .groupBy("pair").agg(sum("c").cast("long").as("pc"))
        .orderBy(col("pc").desc, col("pair")).limit(1)
        .collect()
      require(best.nonEmpty, s"BPE round $r: vocabulary fully merged, " +
        s"lower `merges` below $merges")
      val pair = best(0).getString(0)
      val pc = best(0).getLong(1)
      val Array(pl, pr) = pair.split(" ", 2)
      picked += ((r.toLong, pair, pc))
      vocab = vocab.withColumn("st",
        replace(col("st"), lit(s" $pl  $pr "), lit(s" $pl$pr ")))
    }
    import spark.implicits._
    val mergeRows = spark.createDataset(picked.result()).toDF("rank", "sym", "n")
      .select(lit("merge").as("part"), col("rank"), col("sym"), col("n"))
    val enc = swc
      .join(vocab.select(col("w"),
        size(split(trim(col("st")), "  ")).cast("long").as("_ntok")), "w")
      .groupBy("source")
      .agg(sum(col("c") * col("_ntok")).cast("long").as("n"))
      .select(lit("encode").as("part"), lit(null).cast("long").as("rank"),
        col("source").as("sym"), col("n"))
    val out = mergeRows.unionByName(enc)
      .orderBy("part", "rank", "sym")
      .localCheckpoint(true)
    graft.operators.SuffixArray.freeCheckpoint(swc)
    graft.operators.SuffixArray.freeCheckpoint(vocab)
    out
  }

  /** Inverted-index (posting list) construction — the retrieval artifact
    * behind BM25/decontamination lookups: per word, document frequency,
    * total term frequency, and the ordered posting list serialized as
    * "doc:tf,doc:tf,…" (ascending doc id; a string so the artifact is
    * engine-portable and hash-comparable).
    *
    * Scale design: per-(word, doc) tf is one partial-combine agg on a
    * skew-free key. The classic killer is the STOPWORD posting list —
    * corpus-sized for "the" — so lists are only materialized for words
    * with df ≤ maxDf (real systems stop-list or block-compress exactly
    * these); hot words keep their counts but carry a NULL postings
    * column, and the `collect_list` that builds a list is join-bounded
    * to ≤ maxDf entries BEFORE aggregation, never built then discarded.
    * Catalyst reuses the shared tf exchange between the two branches.
    */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
      maxDf: Int = 100): DataFrame = {
    require(maxDf > 0, s"maxDf ($maxDf) must be > 0")
    val tf = df.select(col(idCol).as("doc"), explode(words(col(textCol))).as("w"))
      .groupBy("w", "doc").agg(count(lit(1)).as("tf"))
    val stats = tf.groupBy("w")
      .agg(count(lit(1)).as("df"), sum("tf").cast("long").as("total_tf"))
    val small = stats.filter(col("df") <= maxDf).select("w")
    val postings = tf.join(small, "w")
      .groupBy("w")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("doc"), col("tf")))),
          e => concat(e("doc").cast("string"), lit(":"), e("tf").cast("string"))),
        ",").as("postings"))
    stats.join(postings, Seq("w"), "left")
      .select(col("w").as("word"), col("df"), col("total_tf"), col("postings"))
  }

  /** Per-source distribution drift: KL(P_source ‖ P_corpus) over word
    * unigrams — the mixture-design diagnostic that tells you which
    * sources speak a different language than the blend (a spiking KL on
    * one source is the canary for scraped-content drift between corpus
    * snapshots). No smoothing is needed: every source word exists in
    * the corpus by construction, so p_corpus > 0 wherever p_source > 0.
    *
    * KL = (1/n_s)·Σ_w c_sw·ln(c_sw·N / (n_s·c_w)); each TYPE's ln is
    * quantized to integer micro-nats before the cross-row sum (X61
    * trick — associative integer adds, partition/engine-proof).
    *
    * Scale: (source, word) counts and vocab counts are partial-combine
    * aggs on skew-free keys; the vocab join is AQE-decided (never a
    * forced broadcast — Heaps' law says |vocab| grows with the corpus);
    * per-source totals are a |sources|-row join and the corpus total a
    * 1-row broadcast. Output: (source, n_tokens, n_types,
    * kl_micronats, kl).
    */
  def sourceKlDrift(df: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(srcCol).as("source"),
      explode(words(col(textCol))).as("_w"))
    val sw = tok.groupBy("source", "_w").agg(count(lit(1)).as("_csw"))
    val cw = sw.groupBy("_w").agg(sum("_csw").cast("long").as("_cwt"))
    val ns = sw.groupBy("source")
      .agg(sum("_csw").cast("long").as("_nst"), count(lit(1)).as("n_types"))
    val nc = cw.agg(sum("_cwt").cast("long").as("_nct"))
    val terms = sw.join(cw, "_w")
      .join(ns.select("source", "_nst"), "source")
      .crossJoin(broadcast(nc))
      .select(col("source"), col("_csw"),
        floor(log((col("_csw") * col("_nct"))
            / (col("_nst") * col("_cwt")).cast("double"))
          * 1000000.0 + 0.5).cast("long").as("_li"))
    terms.groupBy("source")
      .agg(sum(col("_csw") * col("_li")).cast("long").as("kl_micronats"))
      .join(ns, "source")
      .select(col("source"), col("_nst").as("n_tokens"), col("n_types"),
        col("kl_micronats"),
        round6(col("kl_micronats") / (col("_nst") * 1000000.0)).as("kl"))
  }

  /** Hashed bag-of-words feature extraction (the fastText trick, public
    * literature: Weinberger et al. ICML'09 feature hashing; Joulin et al.
    * 2016): each token maps to `md5(salt|token) mod numBuckets`, so the
    * feature space is FIXED-width regardless of vocabulary growth — no
    * vocab table to build, ship, or skew. Output (doc, b, c): per-doc
    * bucket counts from one explode + one partial-combine agg on the
    * skew-free (doc, bucket) key.
    */
  def hashedFeatures(df: DataFrame, idCol: String, textCol: String,
      numBuckets: Int, salt: String): DataFrame = {
    require(numBuckets > 0, s"numBuckets ($numBuckets) must be > 0")
    df.select(col(idCol).as("doc"), explode(words(col(textCol))).as("_w"))
      .select(col("doc"), featureBucket(col("_w"), numBuckets, salt).as("b"))
      .groupBy("doc", "b").agg(count(lit(1)).as("c"))
  }

  /** The feature-hash bucket of one token: `md5(salt|token) mod
    * numBuckets` — shared by [[hashedFeatures]] (batch, exploded) and
    * [[graft.streaming.DocStream.classify]] (streaming, in-array) so
    * the two inference paths bucket identically by construction.
    */
  def featureBucket(w: Column, numBuckets: Int, salt: String): Column =
    conv(substring(md5(concat(lit(s"$salt|"), w)), 1, 4), 16, 10)
      .cast("int") % numBuckets

  /** RAKE keyphrase extraction (Rose et al. 2010, "Automatic Keyword
    * Extraction from Individual Documents"): candidate phrases are the
    * maximal stopword-free word runs (length ≤ `maxLen`); each word
    * scores deg/freq where freq counts its candidate occurrences and
    * deg sums the lengths of the candidates containing it (longer
    * phrases reward their members); a phrase scores the sum of its
    * words' scores. The corpus-level top-k is what a catalog /
    * labeling UI shows as "what this corpus is about".
    *
    * Determinism: word scores are floored to micro ONCE
    * (`deg·10⁶ div freq`), phrase scores are integer sums of those,
    * and the top-k order (score DESC, phrase ASC) is total. Scale:
    * run segmentation is a per-doc window; word stats and phrase
    * scores are combine-aggs plus ONE vocab-sized equi-join (no
    * broadcast hint — the X150 rule: vocab grows with the corpus);
    * the only sort is the TakeOrdered top-k.
    */
  def rakeKeyphrases(df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String], maxLen: Int = 4, topK: Int = 20)
      : DataFrame = {
    require(maxLen >= 1 && topK >= 1, s"bad rake config: $maxLen/$topK")
    val toks = df.select(col(idCol).as("doc"),
        posexplode(words(col(textCol))).as(Seq("pos", "w")))
      .withColumn("stop", col("w").isin(stopwords: _*) || col("w") === "")
    val byDoc = Window.partitionBy("doc").orderBy("pos")
    val cand = toks
      .withColumn("grp", sum(when(col("stop"), 1).otherwise(0)).over(byDoc))
      .filter(!col("stop"))
      .groupBy("doc", "grp")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("w")))),
        t => t.getField("w")).as("ws"))
      .filter(size(col("ws")) <= maxLen)
      .select(col("doc"), col("grp"), col("ws"), size(col("ws")).as("len"))
    val wscore = cand.select(explode(col("ws")).as("w"), col("len"))
      .groupBy("w").agg(count(lit(1)).as("freq"), sum("len").as("deg"))
      .select(col("w"), expr("(deg * 1000000) DIV freq").as("wscore"))
    cand.select(col("doc"), col("grp"), col("ws"),
        explode(col("ws")).as("w"))
      .join(wscore, "w")
      .groupBy("doc", "grp")
      .agg(sum("wscore").as("score"), first("ws").as("ws"))
      .select(concat_ws(" ", col("ws")).as("phrase"), col("score"))
      .groupBy("phrase")
      .agg(count(lit(1)).as("n_occurrences"), min("score").as("score_mu"))
      .orderBy(col("score_mu").desc, col("phrase"))
      .limit(topK)
  }

  /** TextRank keywords (Mihalcea & Tarau EMNLP'04) — the graph-based
    * companion to [[rakeKeyphrases]]'s degree heuristic: words vote
    * for words they co-occur with, and [[graft.operators.PageRank]]'s
    * damped fixpoint turns the votes into a global centrality score.
    * RAKE rewards membership in long stopword-free runs; TextRank
    * rewards being the hub the corpus keeps routing through — the two
    * disagree exactly on glue words that appear everywhere but anchor
    * nothing, which is why a labeling UI shows both (X262).
    *
    * Graph: vertices = non-stopword tokens; one DIRECTED edge instance
    * per co-occurrence within window 2 of the ORIGINAL token sequence
    * (two `lead` windows per doc — filtering first and pairing
    * survivors would invent adjacencies across stopword gaps), both
    * orientations, self-loops dropped. Repeated co-occurrence emits
    * repeated edge rows, which under [[PageRank.run]]'s
    * one-row-one-vote arithmetic IS integer edge weighting — no
    * separate weight machinery.
    *
    * Determinism: ranks are PageRank's integer nano-units; the top-k
    * order (rank_nano DESC, word ASC) is total. Scale: tokenization +
    * two lead windows per doc (one exchange on doc), then the
    * X51-shape rounds — one edge⋈rank equi-join + one combine sum
    * each, rank table checkpointed per round; the only sort is the
    * TakeOrdered top-k.
    */
  def textrankKeywords(df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String], iters: Int = 3, topK: Int = 25)
      : DataFrame = {
    val byDoc = Window.partitionBy("doc").orderBy("pos")
    val toks = df.select(col(idCol).as("doc"),
      posexplode(words(col(textCol))).as(Seq("pos", "w")))
    val kept = (c: Column) => !c.isin(stopwords: _*) && c =!= ""
    // Pinned (r16): `half` is referenced twice by the symmetrization
    // and `prs` twice by the two lead offsets — unpinned, the
    // tokenize + posexplode + window pipeline evaluated 4× inside the
    // edge build, and PageRank's rounds re-read the lazy edge plan
    // per iteration (profiled 10.6 s warm wall at sf0.1, 29 jobs).
    val prs = toks
      .withColumn("n1", lead(col("w"), 1).over(byDoc))
      .withColumn("n2", lead(col("w"), 2).over(byDoc))
      .localCheckpoint(true)
    val half = prs
      .select(col("w").as("src"), col("n1").as("dst"))
      .unionAll(prs.select(col("w").as("src"), col("n2").as("dst")))
      .filter(col("dst").isNotNull && kept(col("src")) && kept(col("dst"))
        && col("src") =!= col("dst"))
    val edges = half.unionAll(
      half.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    val nodes = toks.filter(kept(col("w")))
      .select(col("w").as("id")).distinct()
      .localCheckpoint(true)
    graft.operators.PageRank.run(edges, nodes, iters)
      .select(col("id").as("word"), col("rank").as("rank_nano"),
        round6(col("rank") / 1000000000.0).as("rank"))
      .orderBy(col("rank_nano").desc, col("word"))
      .limit(topK)
  }

  /** Exact integer square root ⌊√x⌋ for a nonnegative integral column:
    * one IEEE sqrt (correctly rounded, hence portable) followed by a
    * ±1 probe pair — `floor(sqrt(double))` alone can land one off
    * when the true root sits within an ulp of an integer, and the
    * probes make the result exact at any magnitude where s² stays in
    * range. The sqrt-domain cousin of [[floorDivDec]]'s q·b probe.
    */
  def isqrt(x: Column): Column = {
    val s0 = floor(sqrt(x.cast("double"))).cast("long")
    val s1 = when((s0 + 1) * (s0 + 1) <= x, s0 + 1).otherwise(s0)
    when(s1 * s1 > x, s1 - 1).otherwise(s1)
  }

  /** Exact ⌊√x⌋ for a nonnegative decimal(38,0) column — the full-
    * range sibling of [[isqrt]], for moments that outgrow Long (rank
    * sum-of-squares terms grow ~n⁴ and pass 2⁶³ near n ≈ 7·10⁴).
    * The double seed's 53-bit mantissa leaves an absolute error up to
    * ~√x·3·10⁻¹⁶ (thousands near 10¹⁹), so ±1 probes alone cannot
    * repair it; ONE integer Newton step (s ← (s + x÷s) ÷ 2, exact via
    * [[floorDivDec]]) collapses that error quadratically to O(1) —
    * e²/(2√x) ≪ 1 for any x ≤ 10³⁸ — a second step absorbs the floor
    * slack, and the down/down/up probe trio lands the exact floor.
    * x ≤ 0 → 0. Everything stays in decimal(38,0); the largest
    * intermediate is s² ≤ x, so no silent overflow-to-null path
    * exists at any representable input.
    */
  def isqrtDec(x: Column): Column = {
    val d = (c: Column) => c.cast("decimal(38,0)")
    // every stage is bindOnce-bound: each Newton step references its
    // predecessor ~12× and each probe ~3×, so inlining would grow the
    // expression tree multiplicatively (the Hilbert 5^bits lesson) —
    // bound, the tree stays linear in the stage count.
    // Every stage is also CAPPED at 10¹⁹−1 = ⌊√(10³⁸−1)⌋: no true root
    // exceeds it, but the double seed can land above it near the top
    // of the domain and the s² probe would then overflow decimal(38,0)
    // — a loud ANSI error, but a spurious one. Capped, s² ≤
    // (10¹⁹−1)² < 10³⁸ always fits.
    val cap = d(lit(new java.math.BigDecimal("9999999999999999999")))
    bindOnce(d(x)) { xd =>
      bindOnce(least(greatest(d(floor(sqrt(xd.cast("double")))),
          d(lit(1L))), cap)) { s0 =>
        bindOnce(least(greatest(floorDivDec(s0 + floorDivDec(xd, s0),
            d(lit(2L))), d(lit(1L))), cap)) { s1 =>
          bindOnce(least(floorDivDec(s1 + floorDivDec(xd, s1),
              d(lit(2L))), cap)) { s2 =>
            bindOnce(when(s2 * s2 > xd, s2 - 1).otherwise(s2)) { p1 =>
              bindOnce(when(p1 * p1 > xd, p1 - 1).otherwise(p1)) { p2 =>
                val p3 = when(p2 < cap && (p2 + 1) * (p2 + 1) <= xd,
                  p2 + 1).otherwise(p2)
                when(xd <= 0, d(lit(0L))).otherwise(d(p3))
              }
            }
          }
        }
      }
    }
  }

  /** Neyman optimal sampling allocation (Neyman 1934) with exact
    * largest-remainder apportionment (Hamilton's method) — "given a
    * budget of n audits, how many docs to sample from each source":
    * n_h ∝ N_h·σ_h, next to the proportional n_h ∝ N_h baseline the
    * same apportionment turns into integers. Where the two disagree
    * IS the readout — variance concentrates there, and proportional
    * sampling wastes budget on homogeneous strata (X268).
    *
    * Exactness: per-stratum variance from exact decimal moments,
    * scaled ×10¹² and floored ONCE, so σ_micro = [[isqrt]] of an
    * integer — bit-stable. Shares (N_h·σ_micro, or N_h) apportion by
    * floor quotas via [[floorDivDec]] plus largest-remainder top-up,
    * ranked (remainder DESC, stratum ASC) — a total order, so the
    * ±1 seats land identically in both engines and Σ alloc = n
    * EXACTLY (the property a float-rounded allocation loses). A
    * zero-variance stratum draws 0 under Neyman — the textbook
    * answer (one probe suffices; we keep the classical form).
    *
    * Scale: one combine agg to |strata| moment rows; everything
    * after runs on that metadata (the remainder rank window
    * included). Output: (strataCol, n_docs, sigma_micro, alloc_prop,
    * alloc_neyman), ordered by stratum.
    */
  def neymanAllocation(df: DataFrame, strataCol: String, value: Column,
      budget: Int): DataFrame = {
    require(budget >= 1, s"budget ($budget) must be >= 1")
    val dec = (x: Column) => x.cast("decimal(38,0)")
    val mom = df.select(col(strataCol).as("h"), value.cast("long").as("x"))
      .filter(col("x").isNotNull)
      .groupBy("h")
      .agg(count(lit(1)).as("n"), sum(dec(col("x"))).as("sx"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"))
      .select(col("h"), col("n"),
        isqrt(floorDivDec(
          (dec(col("n")) * col("sxx") - col("sx") * col("sx"))
            * lit(1000000000000L),
          dec(col("n")) * dec(col("n"))).cast("long")).as("sigma_micro"))
    val prop = largestRemainder(mom.select(col("h"), col("n").as("share")),
      budget, "alloc_prop")
    val ney = largestRemainder(
      mom.select(col("h"), (dec(col("n")) * col("sigma_micro")).as("share")),
      budget, "alloc_neyman")
    mom.join(prop, "h").join(ney, "h")
      .select(col("h").as(strataCol), col("n").as("n_docs"),
        col("sigma_micro"), col("alloc_prop"), col("alloc_neyman"))
      .orderBy(strataCol)
  }

  /** Largest-remainder (Hamilton) apportionment of `budget` seats
    * over `shares(h, share)` — floor quotas via [[floorDivDec]], then
    * +1 to the largest remainders ranked (remainder DESC, h ASC): a
    * total order, so the ±1 seats land identically in both engines
    * and Σ alloc = budget EXACTLY. Shared by [[neymanAllocation]] and
    * [[temperatureMix]]. */
  def largestRemainder(shares: DataFrame, budget: Int,
      alloc: String): DataFrame = {
    val dec = (x: Column) => x.cast("decimal(38,0)")
    val tot = shares.agg(sum(dec(col("share"))).as("s_tot"))
    val quotas = shares.crossJoin(broadcast(tot))
      .select(col("h"),
        floorDivDec(lit(budget) * dec(col("share")), col("s_tot"))
          .as("q"),
        (lit(budget) * dec(col("share"))
          - floorDivDec(lit(budget) * dec(col("share")), col("s_tot"))
            * col("s_tot")).as("rem"))
    val left = quotas.agg((lit(budget) - sum(col("q"))).as("l"))
    quotas.crossJoin(broadcast(left))
      .withColumn("_rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("rem").desc, col("h"))))
      .select(col("h"),
        (col("q") + when(col("_rk") <= col("l"), 1).otherwise(0))
          .cast("long").as(alloc))
  }

  /** Temperature-scaled mixture allocation (the multilingual-LM
    * sampling rule, Lample & Conneau 2019 α-smoothing): seats ∝ t_s^α
    * for α ∈ {1, ½, 0} side by side — proportional feeds the head,
    * α = ½ lifts the tail (the standard anti-English-collapse
    * setting), uniform ignores size entirely. Where the three
    * disagree is the curation decision surface.
    *
    * Exactness: the α = ½ share is [[isqrtDec]] of t_s·10¹² — an
    * exact integer root (relative error < 10⁻⁶, far inside the
    * apportionment's remainder grid for any realistic source count);
    * all three columns apportion by the SAME [[largestRemainder]]
    * total order, so each sums to the budget exactly.
    *
    * Scale: one combine agg to |sources| token counts; everything
    * after is metadata arithmetic.
    */
  def temperatureMix(df: DataFrame, sourceCol: String, tokens: Column,
      budget: Int): DataFrame = {
    require(budget >= 1, s"budget ($budget) must be >= 1")
    val dec = (x: Column) => x.cast("decimal(38,0)")
    val tok = df.select(col(sourceCol).as("h"), tokens.cast("long").as("t"))
      .groupBy("h")
      .agg(count(lit(1)).as("n_docs"), sum(dec(col("t"))).as("tk"))
      .localCheckpoint(true) // three share projections read it
    val prop = largestRemainder(tok.select(col("h"),
      col("tk").as("share")), budget, "alloc_prop")
    val temp = largestRemainder(tok.select(col("h"),
      isqrtDec(col("tk") * lit(1000000000000L)).as("share")),
      budget, "alloc_temp")
    val unif = largestRemainder(tok.select(col("h"),
      lit(1L).cast("decimal(38,0)").as("share")), budget, "alloc_uniform")
    tok.join(prop, "h").join(temp, "h").join(unif, "h")
      .select(col("h").as(sourceCol), col("n_docs"),
        col("tk").cast("long").as("n_tokens"),
        col("alloc_prop"), col("alloc_temp"), col("alloc_uniform"))
      .orderBy(sourceCol)
  }

  /** Horvitz–Thompson total estimation from the [[neymanAllocation]]
    * design (X277; Horvitz & Thompson 1952) — the survey-sampling
    * loop CLOSED: X268 decides how many docs to draw per stratum;
    * this draws them (md5-ranked — deterministic, hence replayable;
    * the established "random"-by-hash discipline) and estimates the
    * corpus token total as Σ_h N_h·(sample mean)_h, reporting the
    * estimate AGAINST the true total per stratum and overall — the
    * audit a sampling pipeline runs before trusting its own
    * extrapolations.
    *
    * Exactness: per stratum est·10⁶ = ⌊N_h·Σ(sampled tokens)·10⁶ /
    * n_h⌋ (one [[floorDivDec]]); the signed relative error is
    * ⌊(est_µ − true·10⁶)·10⁶ / (true·10⁶)⌋ toward zero
    * ([[truncDivDec]]). A stratum whose allocation ≥ its size
    * degrades to a census — error exactly 0, which the unit pins.
    *
    * Scale: the rank window is per-stratum (hash-keyed, no global
    * sort); two combine aggs (sampled sums, true sums); the
    * apportionment runs on |strata| metadata. Output per stratum +
    * `__ALL__`: (stratum, n_docs, n_drawn, true_tokens,
    * est_tokens_micro, err_ppm).
    */
  def htTokenEstimate(df: DataFrame, strataCol: String, idCol: String,
      textCol: String, budget: Int, salt: String): DataFrame = {
    val dec = (x: Column) => x.cast("decimal(38,0)")
    val base = df.select(col(strataCol).as("h"),
      col(idCol).as("doc_id"), size(words(col(textCol))).cast("long").as("toks"))
    val alloc = neymanAllocation(df, strataCol,
        size(words(col(textCol))), budget)
      .select(col(strataCol).as("h"), col("alloc_neyman"))
    val w = Window.partitionBy("h")
      .orderBy(md5(concat(lit(s"$salt|"), col("doc_id").cast("string"))),
        col("doc_id"))
    val samp = base.withColumn("rn", row_number().over(w))
      .join(alloc, "h")
      .filter(col("rn") <= col("alloc_neyman"))
      .groupBy("h")
      .agg(count(lit(1)).as("n_drawn"), sum("toks").as("s_samp"))
    val truth = base.groupBy("h")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("true_tokens"))
    val per = truth.join(samp, "h")
      .select(col("h"), col("n_docs"), col("n_drawn"), col("true_tokens"),
        floorDivDec(dec(col("n_docs")) * dec(col("s_samp")) * lit(1000000),
          dec(col("n_drawn"))).cast("long").as("est_tokens_micro"))
      .localCheckpoint(eager = true) // detail + the __ALL__ fold
    val all = per.agg(sum("n_docs").as("n_docs"),
        sum("n_drawn").as("n_drawn"), sum("true_tokens").as("true_tokens"),
        sum("est_tokens_micro").as("est_tokens_micro"))
      .select(lit("__ALL__").as("h"), col("n_docs"), col("n_drawn"),
        col("true_tokens"), col("est_tokens_micro"))
    per.select(col("h"), col("n_docs"), col("n_drawn"),
        col("true_tokens"), col("est_tokens_micro"))
      .unionAll(all)
      .withColumn("err_ppm", truncDivDec(
        (dec(col("est_tokens_micro")) - dec(col("true_tokens"))
          * lit(1000000)) * lit(1000000),
        dec(col("true_tokens")) * lit(1000000)).cast("long"))
      .select(col("h").as(strataCol), col("n_docs"), col("n_drawn"),
        col("true_tokens"), col("est_tokens_micro"), col("err_ppm"))
      .orderBy(strataCol)
  }

  /** Greedy maximum-coverage data selection (Nemhauser, Wolsey &
    * Fisher 1978 — the (1−1/e)-approximate greedy for submodular
    * coverage) — pick `k` documents that together cover the most
    * distinct word `gram`-shingles (X263). The COVERAGE-driven
    * complement of the two selection ops the inventory has:
    * [[VectorOps.prototypicality]] keeps what is typical,
    * [[VectorOps.kCenterGreedy]] keeps what spans the embedding
    * space; this keeps what spans the corpus CONTENT — the
    * "smallest eval set that still exercises everything" /
    * "most-informative docs to annotate first" curation question.
    *
    * Per round: gains are ONE combine agg over the UNCOVERED
    * (doc, shingle) pair table, the argmax a TakeOrdered(1) with the
    * total (gain DESC, doc ASC) order, and covering is ONE equi
    * anti-join on the shingle key — which removes the pick's pairs
    * AND every other doc's now-covered overlap in the same stroke,
    * so the pair table only ever SHRINKS (the k-core peel shape,
    * X147; per-round lineage cut by checkpoint, freed when the next
    * round materializes). A doc whose shingles are all covered
    * simply vanishes from the gain table — exhausted corpora yield
    * fewer than k rows rather than zero-gain repicks.
    *
    * Output: the selection log (sel_idx, idCol, gain, covered_cum) —
    * gain = newly covered shingles at pick time, covered_cum the
    * running union size (the greedy coverage curve a diminishing-
    * returns readout plots).
    */
  def maxCoverageSelect(df: DataFrame, idCol: String, textCol: String,
      gram: Int, k: Int,
      materialize: DataFrame => DataFrame = _.localCheckpoint(eager = true))
      : DataFrame = {
    require(gram >= 1, s"gram ($gram) must be >= 1")
    require(k >= 1 && k <= 64, s"k ($k) must be in 1..64")
    val toks = df.select(col(idCol).as("doc"), words(col(textCol)).as("ws"))
    var pairs = materialize(toks
      .select(col("doc"), explode(shinglesFromWords(col("ws"), gram)).as("g"))
      .distinct())
    val picks = collection.mutable.Buffer.empty[DataFrame]
    (1 to k).foreach { i =>
      val pick = materialize(
        pairs.groupBy("doc").agg(count(lit(1)).as("gain"))
          .orderBy(col("gain").desc, col("doc")).limit(1))
      picks += pick.select(lit(i).as("sel_idx"), col("doc"), col("gain"))
      val covered = pairs.join(pick.select("doc"), "doc").select("g")
      val prev = pairs
      pairs = materialize(pairs.join(covered, Seq("g"), "left_anti"))
      graft.operators.SuffixArray.freeCheckpoint(prev)
    }
    graft.operators.SuffixArray.freeCheckpoint(pairs)
    picks.reduce(_.unionByName(_))
      .withColumn("covered_cum", sum("gain").over(
        Window.orderBy("sel_idx")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("sel_idx"), col("doc").as(idCol), col("gain"),
        col("covered_cum"))
      .orderBy("sel_idx")
  }

  /** Vocabulary growth + richness: Heaps'-law exponent (Heaps 1978,
    * V ∝ N^β) fitted over md5-nested subsets, plus the
    * capture-recapture estimators of what remains UNSEEN — Chao1
    * richness (Chao 1984, bias-corrected: V + f₁(f₁−1)/(2(f₂+1)))
    * and the Good–Turing unseen-probability mass f₁/N (Good 1953).
    * Together they answer the curation question "how much more
    * vocabulary does more data buy": β says how fast V grows, Chao1
    * how far it can go, GT how much probability the current model is
    * blind to.
    *
    * One tokenize pass: nesting means subset-ℓ vocabulary is
    * #{words whose MIN doc-level < ℓ} — a single (word → min level,
    * count) aggregation serves every level AND the f₁/f₂ histogram;
    * token counts per level are a 16-row histogram cumsum. The
    * log-log OLS follows the X197 discipline (micro-quantized ln,
    * exact int64 moments, fixed-order final division).
    *
    * Output (part, k, sym, n): part='level' (k = subset denominator
    * ×16, sym = n_tokens|vocab), part='richness' (f1, f2, vocab,
    * n_tokens, chao1, gt_unseen_ppm), part='fit' (beta_micro,
    * logk_micro).
    */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val toks = df.select(
        expr(s"CAST(conv(substring(md5(concat('vg|', " +
          s"CAST($idCol AS STRING))), 1, 4), 16, 10) AS INT) % 16")
          .as("lvl"),
        explode(words(col(textCol))).as("w"))
      .localCheckpoint(eager = true)
    val tokHist = toks.groupBy("lvl").agg(count(lit(1)).as("nt"))
    val wordMin = toks.groupBy("w")
      .agg(min("lvl").as("ml"), count(lit(1)).as("c"))
      .localCheckpoint(eager = true)
    val vHist = wordMin.groupBy("ml").agg(count(lit(1)).as("nv"))
    val ltab = Seq(1, 2, 4, 8, 16).toDF("lv")
    val pts = ltab.join(tokHist, col("lvl") < col("lv"))
      .groupBy("lv").agg(sum("nt").as("n_tokens"))
      .join(ltab.join(vHist, col("ml") < col("lv"))
        .groupBy("lv").agg(sum("nv").as("vocab")), "lv")
      .localCheckpoint(eager = true)
    val rich = wordMin.agg(count(lit(1)).as("v"), sum("c").as("n"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("v"), col("n"), col("f1"), col("f2"),
        (col("v") + expr("(f1 * (f1 - 1)) DIV (2 * (f2 + 1))"))
          .as("chao1"),
        expr("(f1 * 1000000) DIV n").as("gt_unseen_ppm"))
    val fit = pts.select(
        floor(log(col("n_tokens").cast("double")) * 1000000.0 + 0.5)
          .cast("long").as("x"),
        floor(log(col("vocab").cast("double")) * 1000000.0 + 0.5)
          .cast("long").as("y"))
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
      .select(
        floor((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            * 1000000.0
            / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
          + 0.5).cast("long").as("beta_micro"),
        col("n"), col("sx"), col("sy"))
      .select(col("beta_micro"),
        floor((col("sy").cast("double")
            - col("beta_micro").cast("double") / 1000000.0
              * col("sx").cast("double"))
            / col("n").cast("double") + 0.5).cast("long").as("logk_micro"))
    val levelRows = pts.select(lit("level").as("part"),
        col("lv").cast("long").as("k"),
        map(lit("n_tokens"), col("n_tokens"), lit("vocab"), col("vocab"))
          .as("m"))
      .select(col("part"), col("k"), explode(col("m")).as(Seq("sym", "n")))
    val richRows = rich.select(
        map(lit("vocab"), col("v"), lit("n_tokens"), col("n"),
          lit("f1"), col("f1"), lit("f2"), col("f2"),
          lit("chao1"), col("chao1"),
          lit("gt_unseen_ppm"), col("gt_unseen_ppm")).as("m"))
      .select(lit("richness").as("part"), lit(null).cast("long").as("k"),
        explode(col("m")).as(Seq("sym", "n")))
    val fitRows = fit.select(
        map(lit("beta_micro"), col("beta_micro"),
          lit("logk_micro"), col("logk_micro")).as("m"))
      .select(lit("fit").as("part"), lit(null).cast("long").as("k"),
        explode(col("m")).as(Seq("sym", "n")))
    levelRows.unionByName(richRows).unionByName(fitRows)
      .orderBy("part", "k", "sym")
  }

  /** Isotonic calibration (Zadrozny & Elkan KDD'02) — the
    * non-parametric alternative to the Platt fit in
    * [[calibrateScores]]: the monotone step function minimizing
    * squared error against the labels. Classical PAVA is a SEQUENTIAL
    * pool-adjacent-violators stack — awkward both distributed and in
    * SQL — so this uses the exact minimax identity instead:
    *
    *   iso_i = max_{j≤i} min_{k≥i} mean(pos[j..k])
    *
    * which for a bounded bin count is pure joins over interval
    * aggregates: prefix sums over the ≤`bins`-row histogram, the
    * ≤bins² interval means, one min-per-(i,j), one max-per-i. The
    * result is non-decreasing by construction (growing max-range,
    * shrinking min-range), for ANY value matrix — so the micro
    * quantization of interval means (the cross-engine discipline)
    * cannot break monotonicity, only move ties.
    *
    * Scale: the corpus is touched twice (score bounds, bin
    * histogram); everything else is metadata. Returns one row per
    * NON-EMPTY bin: (bin, n, pos, raw_rate_mu, iso_rate_mu).
    */
  def isotonicCalibrate(scored: DataFrame, bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 64, s"bins ($bins) out of range")
    val bounds = scored.agg(min("z").as("zlo"), max("z").as("zhi"))
    val hist = scored.crossJoin(broadcast(bounds))
      .select(expr(s"least(((z - zlo) * $bins) DIV (zhi - zlo + 1), " +
        s"${bins - 1})").as("bin"), col("y"))
      .groupBy("bin").agg(count(lit(1)).as("n"), sum("y").as("pos"))
    val byBin = Window.orderBy("bin")
    val pre = hist
      .withColumn("cn", sum("n").over(byBin))
      .withColumn("cp", sum("pos").over(byBin))
      .withColumn("idx", row_number().over(byBin))
    val ivals = pre.select(col("idx").as("j"),
        (col("cn") - col("n")).as("cn0"), (col("cp") - col("pos")).as("cp0"))
      .join(pre.select(col("idx").as("k"), col("cn").as("cnk"),
        col("cp").as("cpk")), col("j") <= col("k"))
      .select(col("j"), col("k"),
        expr("((cpk - cp0) * 1000000) DIV (cnk - cn0)").as("m"))
    pre.select(col("idx").as("i"), col("bin"), col("n"), col("pos"))
      .join(ivals, col("j") <= col("i") && col("k") >= col("i"))
      .groupBy("i", "bin", "n", "pos", "j").agg(min("m").as("mn"))
      .groupBy("i", "bin", "n", "pos").agg(max("mn").as("iso_rate_mu"))
      .select(col("bin"), col("n"), col("pos"),
        expr("(pos * 1000000) DIV n").as("raw_rate_mu"),
        col("iso_rate_mu"))
      .orderBy("bin")
  }

  /** DSIR importance weighting (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document
    * by how much more likely its hashed-n-gram features are under a
    * TARGET distribution (a trusted subset — here a caller-supplied
    * predicate) than under the RAW corpus distribution:
    * `log w(x) = Σ_b c_b(x) · (ln p_t(b) − ln p_r(b))` with
    * Laplace-smoothed bucket models. Documents with positive log-weight
    * are the ones importance resampling up-samples toward the target.
    *
    * Scale design: ONE exploded pass builds per-doc features
    * ([[hashedFeatures]]); BOTH bucket models come out of a single
    * partial-combine aggregation over it (raw = sum, target =
    * conditional sum — no second corpus pass); the totals are a 1-row
    * broadcast (the scalar-aggregate pattern, not a driver collect);
    * and the log-ratio model is `numBuckets` rows — CONSTANT in corpus
    * size by feature hashing, so the scoring join never meets a
    * Heaps-law vocabulary. Per-bucket log-ratios are quantized to
    * integer micro-nats BEFORE the per-doc sum (the X61 trick), so the
    * cross-row reduction is associative integer math — partition- and
    * engine-proof.
    *
    * Output: (doc, n_tokens, logw_micronats, avg_logw, selected).
    */
  def importanceWeights(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, numBuckets: Int, salt: String): DataFrame = {
    val feats = hashedFeatures(df, idCol, textCol, numBuckets, salt)
    val flags = df.select(col(idCol).as("doc"), isTarget.as("_t"))
    val fx = feats.join(flags, "doc")
    val buckets = fx.groupBy("b").agg(
      sum("c").as("_cr"),
      sum(when(col("_t"), col("c")).otherwise(lit(0L))).as("_ct"))
    val totals = buckets.agg(
      (sum("_cr") + numBuckets).cast("long").as("_nr"),
      (sum("_ct") + numBuckets).cast("long").as("_nt"))
    val lr = buckets.crossJoin(broadcast(totals))
      .select(col("b"),
        floor(log(((col("_ct") + 1) * col("_nr"))
            / ((col("_cr") + 1) * col("_nt")).cast("double"))
          * 1000000.0 + 0.5).cast("long").as("_lr"))
    fx.join(lr, "b")
      .groupBy("doc")
      .agg(sum("c").cast("long").as("n_tokens"),
        sum(col("c") * col("_lr")).cast("long").as("logw_micronats"))
      .select(col("doc"), col("n_tokens"), col("logw_micronats"),
        round6(col("logw_micronats") / (col("n_tokens") * 1000000.0)).as("avg_logw"),
        (col("logw_micronats") > 0).as("selected"))
  }

  /** Deterministic stand-in for a TRAINED linear-model weight table:
    * numBuckets rows of (b, wt) with wt = md5-derived integer
    * milli-units in [-1000, 1000]. In production this DataFrame is the
    * persisted output of training; everything downstream (the join
    * shape, the integer scoring) is identical — swap the table, keep
    * the plan.
    */
  def hashModelWeights(spark: org.apache.spark.sql.SparkSession,
      numBuckets: Int, salt: String): DataFrame =
    spark.range(0, numBuckets)
      .select(col("id").cast("int").as("b"),
        (conv(substring(md5(concat(lit(s"$salt|"), col("id").cast("string"))), 1, 4),
          16, 10).cast("int") % 2001 - 1000).as("wt"))

  /** Linear classifier inference over [[hashedFeatures]]: features
    * equi-joined to the |numBuckets|-row weight table (AQE broadcasts a
    * small model, shuffles a huge one — never a forced hint), then ONE
    * partial-combine agg per doc. The logit stays an exact integer
    * (milli-unit weights × integer counts) until the final display
    * division, and the keep/drop label compares the INTEGER logit
    * against zero — bit-stable across engines and partitionings.
    * Output: (doc, n_tokens, score, label).
    */
  def linearScore(features: DataFrame, weights: DataFrame): DataFrame =
    features.join(weights, "b")
      .groupBy("doc")
      .agg(sum("c").as("n_tokens"), sum(col("c") * col("wt")).as("_st"))
      .select(col("doc"), col("n_tokens"),
        round6(col("_st") / (col("n_tokens") * 1000.0)).as("score"),
        when(col("_st") >= 0, "keep").otherwise("drop").as("label"))

  /** Linear quality-classifier TRAINING over [[hashedFeatures]] — the
    * missing half of [[linearScore]] (whose r9 weight table was an
    * md5 stand-in): `rounds` rounds of full-batch logistic gradient
    * descent with a hard-sigmoid link, all in exact integer arithmetic,
    * the X56 kMeans determinism discipline applied to a classifier.
    *
    * Why full-batch, and why hard-sigmoid:
    *  - per-SAMPLE SGD is a sequential dependency chain (weights after
    *    doc i feed doc i+1) — inherently unparallelizable and
    *    order-dependent, the opposite of an engine-portable distributed
    *    op. Full-batch GD makes each round two partial-combine
    *    aggregations (per-doc logits, then per-bucket gradients) whose
    *    shuffle keys are docs resp. buckets — the Lloyd-iteration shape.
    *  - the logistic sigmoid is transcendental; exp() is not guaranteed
    *    bit-identical across engines. The hard sigmoid
    *    hσ(z) = clamp((z + 2)/4, 0, 1) (the standard quantized-network
    *    surrogate) evaluates in integer micro-units exactly:
    *    clamp((z_milli + 2000)·250, 0, 10⁶).
    *
    * Round r: z_d = floor(Σ_b c_db·w_b / Σ_b c_db)  (milli-units,
    * length-normalized so the link never saturates on long docs);
    * e_d = hσ_micro(z_d) − y_d·10⁶; the GRADIENT weights each doc's
    * error by the OPPOSITE class count — g_b = Σ_d e_d·N_{1−y_d}·c_db —
    * the standard integer-exact class-balancing that stops the majority
    * class from dragging every weight its way (without it the model
    * collapsed to majority-vote — observed, not hypothetical; a bias
    * feature cannot fix it here because length normalization dilutes a
    * unit-count bias by 1/n). Balanced gradients also make the
    * threshold-0 decision of [[linearScore]] the natural operating
    * point. Update: w_b ← w_b − clamp(floor(g_b / (N₀·N₁·lrDiv)),
    * ±clipMilli) — per-feature gradient CLIPPING, the standard
    * heavy-tail defense: word frequencies are Zipfian, so a shared
    * stopword bucket's gradient is orders of magnitude above a rare
    * content bucket's, and one learning rate serves both only if the
    * head is clipped (unclipped, the head buckets slammed every weight
    * to saturation and the loss oscillated — observed). Integers end to
    * end; floor of an exact double division (magnitudes ≪ 2^53) is
    * bit-stable in both engines. Fixed round count, no convergence
    * test.
    *
    * Output, part-tagged (one frame, the X190 composite convention):
    *  - part='round':  (k = round, n = Σ|e| micro) — the training curve;
    *  - part='weight': (k = bucket, n = trained w_b milli) — top
    *    `topW` by |w| (ties → lower bucket), the shipped model;
    *  - part='confusion': (sym = 'keep|y', n = docs) — the trained
    *    weights fed through the SAME [[linearScore]] inference the
    *    llm_classifier row runs, crossed with the true label.
    *
    * Scale: the corpus is featurized ONCE (checkpoint); each round
    * touches only (doc,b,c) rows and the numBuckets-row weight table;
    * per-round driver traffic is one scalar (the error sum). The model
    * stays a DataFrame — nothing corpus-sized is ever collected.
    */
  def trainLinearClassifier(df: DataFrame, idCol: String, textCol: String,
      label: Column, numBuckets: Int, salt: String, rounds: Int,
      lrDiv: Long, clipMilli: Long, topW: Int,
      localFinishCap: Long = LocalFinish.FeatureRows): DataFrame = {
    require(rounds >= 1 && numBuckets > 0 && lrDiv > 0 && clipMilli > 0 && topW > 0,
      s"bad hyperparameters: rounds=$rounds buckets=$numBuckets lrDiv=$lrDiv " +
        s"clip=$clipMilli topW=$topW")
    val spark = df.sparkSession
    import spark.implicits._
    val feats = hashedFeatures(df, idCol, textCol, numBuckets, salt)
      .localCheckpoint(true)
    val labels = df.select(col(idCol).as("doc"),
        when(label, 1L).otherwise(0L).as("_y"))
      .localCheckpoint(true)
    val Array(n0, n1) = labels.agg(
      sum(lit(1L) - col("_y")), sum(col("_y"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    require(n0 > 0 && n1 > 0,
      s"class-balanced training needs both classes present (n0=$n0, n1=$n1)")
    // LOCAL FINISH (r16, the Als/Topic discipline): each GD round is
    // two joins + two aggs over the (doc,b,c) rows plus a per-round
    // driver scalar and checkpoint — ~12 barrier jobs per round, 125
    // jobs for the 10-round fit (profiled; the data work is < 1 s at
    // sf0.1). Below the cap ONE task replays the identical integer GD
    // (same Long sums, same floor-of-double divisions, same clamps and
    // tie-breaks); the distributed rounds run unchanged above it.
    // CartographySpec/local==distributed tests pin equality.
    if (LocalFinish.fits("TextOps.trainLinearClassifier", localFinishCap,
        LocalFinish.longIds(feats, "doc"))(feats.count()))
      return localTrainClassifier(feats, labels, n0, n1, numBuckets,
        rounds, lrDiv, clipMilli, topW)
    var w = spark.range(numBuckets)
      .select(col("id").cast("int").as("b"), lit(0L).as("wt"))
      .localCheckpoint(true)
    val curve = Seq.newBuilder[(Long, Long)]
    for (r <- 1 to rounds) {
      val z = feats.join(w, "b")
        .groupBy("doc")
        .agg(sum(col("c") * col("wt")).as("_zw"), sum("c").as("_n"))
        .select(col("doc"),
          floor(col("_zw").cast("double") / col("_n")).cast("long").as("_z"))
      val err = z.join(labels, "doc")
        .select(col("doc"),
          (least(lit(1000000L), greatest(lit(0L), (col("_z") + 2000L) * 250L))
            - col("_y") * 1000000L).as("_e"),
          when(col("_y") === 1L, lit(n0)).otherwise(lit(n1)).as("_cw"))
        .localCheckpoint(true)
      curve += ((r.toLong, err.agg(sum(abs(col("_e")))).head().getLong(0)))
      val grad = feats.join(err, "doc")
        .groupBy("b").agg(sum(col("c") * col("_e") * col("_cw")).as("_g"))
      val wNext = w.join(grad, Seq("b"), "left")
        .select(col("b"), (col("wt") -
          least(lit(clipMilli), greatest(lit(-clipMilli),
            floor(coalesce(col("_g"), lit(0L)).cast("double")
              / lit(n0.toDouble * n1 * lrDiv)).cast("long")))).as("wt"))
        .localCheckpoint(true)
      graft.operators.SuffixArray.freeCheckpoint(w)
      graft.operators.SuffixArray.freeCheckpoint(err)
      w = wNext
    }
    val roundRows = spark.createDataset(curve.result()).toDF("k", "n")
      .select(lit("round").as("part"), col("k"), lit("").as("sym"), col("n"))
    val weightRows = w.orderBy(abs(col("wt")).desc, col("b"))
      .limit(topW)
      .select(lit("weight").as("part"), col("b").cast("long").as("k"),
        lit("").as("sym"), col("wt").as("n"))
    val confusion = linearScore(feats, w)
      .join(labels, "doc")
      .groupBy(concat(col("label"), lit("|"), col("_y").cast("string")).as("sym"))
      .agg(count(lit(1)).as("n"))
      .select(lit("confusion").as("part"), lit(null).cast("long").as("k"),
        col("sym"), col("n"))
    val out = roundRows.unionByName(weightRows).unionByName(confusion)
      .orderBy("part", "k", "sym")
      .localCheckpoint(true)
    graft.operators.SuffixArray.freeCheckpoint(feats)
    graft.operators.SuffixArray.freeCheckpoint(labels)
    graft.operators.SuffixArray.freeCheckpoint(w)
    out
  }

  /** Dataset cartography (Swayamdipta et al., EMNLP 2020): map every
    * training example by its behavior ACROSS the training run — mean
    * confidence in the true label, variability of that confidence, and
    * how often the model got it right — the triage a curation stack
    * runs to split a corpus into easy-to-learn / ambiguous / hard
    * regions (hard ≈ label noise candidates, ambiguous ≈ the examples
    * worth keeping for generalization).
    *
    * Runs the EXACT llm_classifier_train loop (same hashed features,
    * class-balanced integer GD, hard-sigmoid, clip — the update
    * equations below must stay bit-identical to
    * [[trainLinearClassifier]]'s, which the shared oracle CTE
    * generator enforces) but keeps each round's per-doc residual:
    * |e_r| = 10⁶ − confidence_r in micro. Stats are exact integers —
    * conf = 10⁶ − Σ|e| div R; variance·R² = R·Σe² − (Σe)² (micro²,
    * ≤ 10¹⁴, long-safe at R = 10) reported as its div-R² floor;
    * correct_r ⟺ |e_r| < 5·10⁵. Regions: ambiguous ⟺ variance ≥
    * (0.2)² in micro² (the paper's high-variability band), else easy ⟺
    * conf ≥ ½·10⁶, else hard.
    *
    * Output: (doc, y, conf_micro, var_micro2, n_correct, band).
    */
  def trainingCartography(df: DataFrame, idCol: String, textCol: String,
      label: Column, numBuckets: Int, salt: String, rounds: Int,
      lrDiv: Long, clipMilli: Long,
      localFinishCap: Long = LocalFinish.FeatureRows): DataFrame = {
    require(rounds >= 1 && numBuckets > 0 && lrDiv > 0 && clipMilli > 0,
      s"bad hyperparameters: rounds=$rounds buckets=$numBuckets lrDiv=$lrDiv"
        + s" clip=$clipMilli")
    val spark = df.sparkSession
    val feats = hashedFeatures(df, idCol, textCol, numBuckets, salt)
      .localCheckpoint(true)
    val labels = df.select(col(idCol).as("doc"),
        when(label, 1L).otherwise(0L).as("_y"))
      .localCheckpoint(true)
    val Array(n0, n1) = labels.agg(
      sum(lit(1L) - col("_y")), sum(col("_y"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    require(n0 > 0 && n1 > 0,
      s"class-balanced training needs both classes present (n0=$n0, n1=$n1)")
    // LOCAL FINISH (r16) — see [[trainLinearClassifier]]'s gate; the
    // same one-task replay keeps each round's per-doc |e| instead of
    // the curve scalar.
    if (LocalFinish.fits("TextOps.trainingCartography", localFinishCap,
        LocalFinish.longIds(feats, "doc"))(feats.count()))
      return localCartography(feats, labels, n0, n1, numBuckets,
        rounds, lrDiv, clipMilli)
    var w = spark.range(numBuckets)
      .select(col("id").cast("int").as("b"), lit(0L).as("wt"))
      .localCheckpoint(true)
    val resids = Seq.newBuilder[DataFrame]
    for (_ <- 1 to rounds) {
      val z = feats.join(w, "b")
        .groupBy("doc")
        .agg(sum(col("c") * col("wt")).as("_zw"), sum("c").as("_n"))
        .select(col("doc"),
          floor(col("_zw").cast("double") / col("_n")).cast("long").as("_z"))
      val err = z.join(labels, "doc")
        .select(col("doc"),
          (least(lit(1000000L), greatest(lit(0L), (col("_z") + 2000L) * 250L))
            - col("_y") * 1000000L).as("_e"),
          when(col("_y") === 1L, lit(n0)).otherwise(lit(n1)).as("_cw"))
        .localCheckpoint(true)
      resids += err.select(col("doc"), abs(col("_e")).as("_ae"))
      val grad = feats.join(err, "doc")
        .groupBy("b").agg(sum(col("c") * col("_e") * col("_cw")).as("_g"))
      val wNext = w.join(grad, Seq("b"), "left")
        .select(col("b"), (col("wt") -
          least(lit(clipMilli), greatest(lit(-clipMilli),
            floor(coalesce(col("_g"), lit(0L)).cast("double")
              / lit(n0.toDouble * n1 * lrDiv)).cast("long")))).as("wt"))
        .localCheckpoint(true)
      graft.operators.SuffixArray.freeCheckpoint(w)
      w = wNext
    }
    val stats = resids.result().reduce(_ unionAll _)
      .groupBy("doc")
      .agg(sum("_ae").as("_sae"),
        sum(col("_ae") * col("_ae")).as("_sae2"),
        sum(when(col("_ae") < 500000L, 1L).otherwise(0L)).as("n_correct"))
      .select(col("doc"),
        (lit(1000000L) - expr(s"_sae div ${rounds}L")).as("conf_micro"),
        expr(s"(${rounds}L * _sae2 - _sae * _sae) div ${rounds.toLong * rounds}L")
          .as("var_micro2"),
        col("n_correct"))
    stats.join(labels, "doc")
      .select(col("doc"), col("_y").as("y"), col("conf_micro"),
        col("var_micro2"), col("n_correct"),
        when(col("var_micro2") >= 40000000000L, "ambiguous")
          .when(col("conf_micro") >= 500000L, "easy")
          .otherwise("hard").as("band"))
  }

  // ---- one-task GD local finishers (r16) --------------------------------

  /** Parsed (doc, b, c, y) rows with dense doc indices, plus the exact
    * replay of the class-balanced hard-sigmoid GD rounds. Every
    * arithmetic step mirrors the distributed spelling: Long sums (same
    * wrap contract), z = floor(Σc·w / Σc) as a Double division
    * (magnitudes ≪ 2⁵³, bit-stable — the operator's documented
    * envelope), the hard-sigmoid clamp, gradient scaled by the
    * OPPOSITE class count, update clamp ±clipMilli with the same
    * n₀·n₁·lrDiv Double denominator. `onRound` sees each round's
    * (Σ|e| curve value, per-doc |e| array) so both consumers share one
    * loop.
    */
  private def localGdRounds(
      docIds: Array[Long], yOf: Array[Long],
      ed: Array[Int], eb: Array[Int], ec: Array[Long],
      n0: Long, n1: Long, numBuckets: Int, rounds: Int,
      lrDiv: Long, clipMilli: Long,
      onRound: (Long, Array[Long]) => Unit): Array[Long] = {
    val nD = docIds.length
    val nE = ed.length
    val nTok = new Array[Long](nD)
    var i = 0
    while (i < nE) { nTok(ed(i)) += ec(i); i += 1 }
    val w = new Array[Long](numBuckets)
    val denom = n0.toDouble * n1 * lrDiv
    val e = new Array[Long](nD)
    val absE = new Array[Long](nD)
    var round = 1
    while (round <= rounds) {
      val zw = new Array[Long](nD)
      i = 0
      while (i < nE) { zw(ed(i)) += ec(i) * w(eb(i)); i += 1 }
      var curve = 0L
      var di = 0
      while (di < nD) {
        val z = math.floor(zw(di).toDouble / nTok(di)).toLong
        val hs = math.min(1000000L, math.max(0L, (z + 2000L) * 250L))
        e(di) = hs - yOf(di) * 1000000L
        absE(di) = math.abs(e(di))
        curve += absE(di)
        di += 1
      }
      onRound(curve, absE)
      val g = new Array[Long](numBuckets)
      i = 0
      while (i < nE) {
        val di0 = ed(i)
        val cw = if (yOf(di0) == 1L) n0 else n1
        g(eb(i)) += ec(i) * e(di0) * cw
        i += 1
      }
      var b = 0
      while (b < numBuckets) {
        val step = math.floor(g(b).toDouble / denom).toLong
        w(b) -= math.min(clipMilli, math.max(-clipMilli, step))
        b += 1
      }
      round += 1
    }
    w
  }

  /** Collect one task's (doc, b, c, y) rows into dense arrays. */
  private def parseGdRows(it: Iterator[(Long, Int, Long, Long)])
      : (Array[Long], Array[Long], Array[Int], Array[Int], Array[Long]) = {
    val dIdx = scala.collection.mutable.LongMap.empty[Int]
    val docIds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ys = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ed = scala.collection.mutable.ArrayBuffer.empty[Int]
    val eb = scala.collection.mutable.ArrayBuffer.empty[Int]
    val ec = scala.collection.mutable.ArrayBuffer.empty[Long]
    it.foreach { case (d, b, c, y) =>
      ed += dIdx.getOrElseUpdate(d, { docIds += d; ys += y; docIds.length - 1 })
      eb += b
      ec += c
    }
    (docIds.toArray, ys.toArray, ed.toArray, eb.toArray, ec.toArray)
  }

  /** One-task replay of [[trainLinearClassifier]]'s loop + readout:
    * training curve, top-`topW` weights by (|w| desc, bucket), and the
    * confusion counts from the same final-weights inference. */
  private def localTrainClassifier(feats: DataFrame, labels: DataFrame,
      n0: Long, n1: Long, numBuckets: Int, rounds: Int, lrDiv: Long,
      clipMilli: Long, topW: Int): DataFrame = {
    val spark = feats.sparkSession
    import spark.implicits._
    val joined = feats.join(labels, "doc")
      .select(col("doc"), col("b"), col("c"), col("_y"))
    val out = joined.as[(Long, Int, Long, Long)].coalesce(1)
      .mapPartitions { it =>
        val (docIds, ys, ed, eb, ec) = parseGdRows(it)
        val curve = scala.collection.mutable.ArrayBuffer.empty[Long]
        val w = localGdRounds(docIds, ys, ed, eb, ec, n0, n1, numBuckets,
          rounds, lrDiv, clipMilli, (c, _) => curve += c)
        val res = scala.collection.mutable.ArrayBuffer
          .empty[(String, Option[Long], String, Long)]
        curve.iterator.zipWithIndex.foreach { case (c, r) =>
          res += (("round", Some(r + 1L), "", c))
        }
        (0 until numBuckets).sortWith { (a, b) =>
          val wa = math.abs(w(a)); val wb = math.abs(w(b))
          wa > wb || (wa == wb && a < b)
        }.take(topW).foreach { b =>
          res += (("weight", Some(b.toLong), "", w(b)))
        }
        // confusion: final weights through the linearScore decision
        val st = new Array[Long](docIds.length)
        val nt = new Array[Long](docIds.length)
        var i = 0
        while (i < ed.length) {
          st(ed(i)) += ec(i) * w(eb(i)); nt(ed(i)) += ec(i); i += 1
        }
        val conf = scala.collection.mutable.HashMap.empty[String, Long]
        var di = 0
        while (di < docIds.length) {
          val lbl = if (st(di) >= 0) "keep" else "drop"
          val sym = s"$lbl|${ys(di)}"
          conf(sym) = conf.getOrElse(sym, 0L) + 1L
          di += 1
        }
        conf.toSeq.sortBy(_._1).foreach { case (sym, n) =>
          res += (("confusion", None, sym, n))
        }
        res.iterator
      }
    out.toDF("part", "k", "sym", "n").orderBy("part", "k", "sym")
  }

  /** One-task replay of [[trainingCartography]]'s loop + per-doc
    * across-rounds stats (identical integer formulas and bands). */
  private def localCartography(feats: DataFrame, labels: DataFrame,
      n0: Long, n1: Long, numBuckets: Int, rounds: Int, lrDiv: Long,
      clipMilli: Long): DataFrame = {
    val spark = feats.sparkSession
    import spark.implicits._
    val joined = feats.join(labels, "doc")
      .select(col("doc"), col("b"), col("c"), col("_y"))
    val out = joined.as[(Long, Int, Long, Long)].coalesce(1)
      .mapPartitions { it =>
        val (docIds, ys, ed, eb, ec) = parseGdRows(it)
        val nD = docIds.length
        val sae = new Array[Long](nD)
        val sae2 = new Array[Long](nD)
        val nCorrect = new Array[Long](nD)
        localGdRounds(docIds, ys, ed, eb, ec, n0, n1, numBuckets,
          rounds, lrDiv, clipMilli, (_, absE) => {
            var di = 0
            while (di < nD) {
              sae(di) += absE(di)
              sae2(di) += absE(di) * absE(di)
              if (absE(di) < 500000L) nCorrect(di) += 1L
              di += 1
            }
          })
        val r = rounds.toLong
        (0 until nD).iterator.map { di =>
          val conf = 1000000L - sae(di) / r
          val v = (r * sae2(di) - sae(di) * sae(di)) / (r * r)
          val band =
            if (v >= 40000000000L) "ambiguous"
            else if (conf >= 500000L) "easy"
            else "hard"
          (docIds(di), ys(di), conf, v, nCorrect(di), band)
        }
      }
    out.toDF("doc", "y", "conf_micro", "var_micro2", "n_correct", "band")
  }

  /** Sequence packing for training: concatenate documents in id order
    * (with their token counts) and slice the stream into fixed
    * `seqLen`-token windows — every doc learns its global token OFFSET
    * and the first/last training sequence it lands in. This is the
    * "pack to 2048 with EOS" step every LLM data pipeline runs between
    * curation and tokenization.
    *
    * The global prefix sum is the scale problem: a single `ORDER BY id`
    * running-sum window funnels the corpus onto ONE partition
    * (rejected, same argument as the token-budget op). Instead the
    * classic two-level parallel scan, in DataFrame ops: (1) bucket docs
    * by `id div bucketSize` and partial-combine per-bucket token sums
    * (corpus/bucketSize rows); (2) run the running sum over that SMALL
    * bucket table (the only single-partition window, bounded by
    * corpus/bucketSize — for extreme corpora apply the same step
    * recursively, the textbook multi-level scan); (3) add a PER-BUCKET
    * windowed cumsum, parallel across buckets. The oracle is the
    * single-window spelling, so the decomposition is proven equivalent
    * — the X52 oracle pattern.
    *
    * `idCol` must be numeric and unique (the pack order). Output:
    * (idCol, n_tokens, tok_offset, first_seq, last_seq).
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      seqLen: Int, bucketSize: Int = 4096): DataFrame = {
    require(seqLen > 0 && bucketSize > 0,
      s"seqLen ($seqLen) and bucketSize ($bucketSize) must be > 0")
    val w = org.apache.spark.sql.expressions.Window
    val t = df.select(col(idCol), size(words(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("_bkt", expr(s"`$idCol` div $bucketSize"))
    val bases = t.groupBy("_bkt").agg(sum("n_tokens").as("_bsum"))
      .withColumn("_base",
        coalesce(sum("_bsum").over(
          w.orderBy("_bkt").rowsBetween(w.unboundedPreceding, -1)), lit(0L)))
      .select("_bkt", "_base")
    val inBkt = w.partitionBy("_bkt").orderBy(idCol)
      .rowsBetween(w.unboundedPreceding, -1)
    t.join(bases, "_bkt")
      .withColumn("tok_offset",
        col("_base") + coalesce(sum("n_tokens").over(inBkt), lit(0L)))
      .select(col(idCol), col("n_tokens"), col("tok_offset"),
        expr(s"tok_offset div $seqLen").as("first_seq"),
        expr(s"(tok_offset + n_tokens - 1) div $seqLen").as("last_seq"))
  }

  /** The loader-facing form of [[packSequences]]: one manifest row per
    * (sequence, document) pair — which token sub-range of each doc a
    * training sequence reads. `doc_tok_from` is 0-based within the doc;
    * a loader materializes sequence `s` by concatenating its rows'
    * `[doc_tok_from, doc_tok_from + n_toks)` slices in doc id order.
    * The per-doc explode emits ≤ n_tokens/seqLen + 1 rows — output is
    * corpus-tokens/seqLen-proportional, and everything after the pack
    * is a narrow projection. A doc contributing 0 tokens (null text, or
    * a tokenizer that can emit empty) has `last_seq < first_seq`; Spark's
    * `sequence` would generate a DESCENDING range there (the same trap
    * `shinglesFromWords` guards), so such docs are explicitly dropped —
    * matching the oracle's `generate_series`, which returns empty.
    */
  def sequenceManifest(df: DataFrame, idCol: String, textCol: String,
      seqLen: Int, bucketSize: Int = 4096): DataFrame = {
    val packed = packSequences(df, idCol, textCol, seqLen, bucketSize)
    val lo = greatest(col("tok_offset"), col("seq_id") * seqLen)
    val hi = least(col("tok_offset") + col("n_tokens"),
      (col("seq_id") + 1) * seqLen)
    packed
      .withColumn("seq_id",
        explode(when(col("last_seq") >= col("first_seq"),
          sequence(col("first_seq"), col("last_seq")))
          .otherwise(array().cast("array<bigint>"))))
      .select(col("seq_id"), col(idCol),
        (lo - col("tok_offset")).as("doc_tok_from"),
        (hi - lo).as("n_toks"))
  }

  /** Length-bucketed inference batching: group documents into
    * power-of-two token-length buckets and deterministic batches, and
    * report each batch's padding economics (pad-to-max waste) — the
    * dynamic-batching layout every bulk-inference/training pipeline
    * plans before spending GPU hours.
    *
    * Scale design: NO windows, no global order. The length bucket is
    * the integer bit-length of the token count (exact in both engines —
    * float log2 wobbles at exact powers of two); batch membership is a
    * pure md5 function of the doc id modulo the bucket's batch count,
    * so assignment is reproducible across runs/engines/partitionings
    * and every stage is a partial-combine aggregation or a
    * histogram-sized equi-join. Within a bucket max/min length differ
    * < 2×, bounding worst-case padding below 50% — the hash assignment
    * trades the sorted batcher's global sort for that bounded waste,
    * which is the scalable trade. Output: (len_bucket, batch_idx,
    * n_docs, max_tokens, sum_tokens, padding_frac).
    */
  def lengthBucketBatches(df: DataFrame, idCol: String, textCol: String,
      batchSize: Int): DataFrame = {
    require(batchSize > 0, s"batchSize ($batchSize) must be > 0")
    val d = df.select(col(idCol).as("doc"),
        size(words(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("len_bucket", length(bin(col("n_tokens"))).cast("int"))
    val nb = d.groupBy("len_bucket").agg(count(lit(1)).as("_nd"))
      .select(col("len_bucket"),
        expr(s"(_nd + ${batchSize - 1}) div $batchSize").as("_nbatch"))
    d.join(nb, "len_bucket")
      .withColumn("batch_idx",
        pmod(conv(substring(md5(concat(lit("batch|"), col("doc").cast("string"))),
          1, 4), 16, 10).cast("long"), col("_nbatch")))
      .groupBy("len_bucket", "batch_idx")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        max("n_tokens").as("max_tokens"),
        sum("n_tokens").cast("long").as("sum_tokens"))
      .withColumn("padding_frac",
        round6((col("max_tokens") * col("n_docs") - col("sum_tokens"))
          / (col("max_tokens") * col("n_docs")).cast("double")))
  }

  /** Multi-epoch shuffle plan: for every (epoch, doc), a shard
    * assignment and a within-shard sort key, both pure md5 functions of
    * (epoch, doc id) — each epoch reads a DIFFERENT but fully
    * reproducible permutation of the corpus. This is how a trainer
    * shuffles 100 TB: the "shuffle" is never a global sort (rejected —
    * single-partition and non-reproducible under retry); the loader
    * reads shard files and sorts WITHIN a shard by the key, so the only
    * ordering work is per-shard and embarrassingly parallel. One narrow
    * ×epochs explode, zero shuffles in this plan itself; pick `shards`
    * ∝ corpus/shard-file-size.
    * Output: (epoch, shard, idCol, sort_key).
    */
  def epochShufflePlan(df: DataFrame, idCol: String, epochs: Int,
      shards: Int): DataFrame = {
    require(epochs > 0 && shards > 0,
      s"epochs ($epochs) and shards ($shards) must be > 0")
    df.select(col(idCol))
      .withColumn("epoch", explode(sequence(lit(0), lit(epochs - 1))))
      .withColumn("sort_key", md5(concat(lit("shuffle|"), col("epoch"),
        lit("|"), col(idCol).cast("string"))))
      .withColumn("shard",
        conv(substring(col("sort_key"), 1, 4), 16, 10).cast("int") % shards)
      .select(col("epoch"), col("shard"), col(idCol), col("sort_key"))
  }

  /** THE curation quality score, over a pre-split word array: length
    * saturation (weight 0.5) + lexical diversity (0.3) + stopword rate
    * (0.2), rounded to 6 dp. ONE definition consumed by the batch
    * curation pipeline, the joint text+embedding capstone, the
    * token-budget query, AND the streaming curate path — the
    * batch↔streaming parity a backfill relies on holds by construction
    * because both paths compile this same Column tree (StreamingSpec
    * pins it with an end-to-end keep-set comparison).
    */
  def qualityScore(w: Column, stopwords: Seq[String]): Column = {
    val nWords = size(w)
    round6(
      (least(nWords, lit(200)) / 200.0) * 0.5
        + (size(array_distinct(w)) / nWords.cast("double")) * 0.3
        + (size(filter(w, x => x.isin(stopwords: _*))) / nWords.cast("double")) * 0.2)
  }

  /** Deterministic hash bucket in [0, buckets) from an id column —
    * md5-based so it is stable across runs, partitionings, AND engines
    * (Spark `hash()` is engine-specific murmur3; md5 hex is universal).
    * THE reproducible-sampling primitive for training data: sampling,
    * train/val/test splits, and A/B assignment all reduce to ranges of
    * this bucket, and membership of a row never changes when the corpus
    * grows.
    */
  def hashBucket(id: Column, salt: String, buckets: Int = 100): Column =
    conv(substring(md5(concat(lit(s"$salt|"), id.cast("string"))), 1, 4), 16, 10)
      .cast("int") % buckets

  /** Token-budget corpus selection: keep the highest-quality documents
    * whose cumulative token count fits a budget — "fill the training mix
    * to N tokens, best first". Selection granularity is a quality BUCKET
    * (quality × 1000): a bucket is kept iff the cumulative tokens of it
    * and all better buckets fit the budget.
    *
    * Scale design: the obvious spelling — global sort by quality + a
    * running-sum window — needs a TOTAL order, which Spark executes as a
    * single-partition window over the whole corpus: a scale-killer,
    * rejected. Instead the cumulative sum runs over the bucket HISTOGRAM
    * (one partial-combine aggregation → ≤1001 rows), where a
    * single-partition window is free, and the corpus is then filtered by
    * an equi-join against the ≤1001-row cutoff table (broadcast). Two
    * narrow passes, no global sort, no driver loop — the one scalar
    * (total tokens × fraction) is a legitimate driver-side aggregate.
    */
  def tokenBudgetSelect(df: DataFrame, qualityCol: String,
      tokensCol: String, budgetFraction: Double): DataFrame = {
    require(budgetFraction > 0 && budgetFraction <= 1,
      s"budgetFraction ($budgetFraction) must be in (0, 1]")
    // Null-quality rows are unrankable: they are RETAINED with
    // selected = false (an inner join used to drop them silently) and
    // excluded from the histogram and the budget total, so they neither
    // vanish nor consume budget.
    val qb = df.withColumn("_qb", floor(col(qualityCol) * 1000).cast("long"))
    val ranked = qb.filter(col("_qb").isNotNull)
    val hist = ranked.groupBy("_qb").agg(sum(tokensCol).as("_bt"))
    // ≤1001 rows: the unpartitioned window is bounded by construction
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("_qb").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = hist.withColumn("_cum", sum("_bt").over(w)).select("_qb", "_cum")
    val totalRow = ranked.agg(sum(col(tokensCol)).cast("long")).collect()(0)
    val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0) // empty corpus
    val budget = math.floor(total * budgetFraction).toLong
    qb.join(broadcast(cum), Seq("_qb"), "left")
      .withColumn("selected", coalesce(col("_cum") <= budget, lit(false)))
      .drop("_qb", "_cum")
  }

  /** Line-level dedup (RefinedWeb / CCNet): drop every LINE whose exact
    * text occurs in at least `minDocs` distinct documents — the pass
    * that removes navigation bars, cookie banners, and boilerplate
    * headers/footers that whole-document dedup can never touch (the
    * docs differ) and fixed-offset chunk hashing misses (the shared
    * line sits at different offsets per doc).
    *
    * Scale design: the only corpus-sized shuffles carry (line_hash) and
    * (doc, pos) — never line TEXT. Lines stay in their origin row's
    * array; the exploded side ships 16-byte hashes + integer positions,
    * the common-line table is built by two partial-combine aggs
    * (distinct (hash, doc) → count per hash), and dropped POSITIONS
    * come back as one `collect_set(pos)` per doc (bounded by the doc's
    * own line count). Reassembly is an in-row `filter` over the kept
    * positions — no posting of text through any exchange. A
    * billion-doc-hot line ("thank you") makes the probe side of the
    * common-line join skew on one hash: AQE skew-join splitting handles
    * it (the build side is 1 row/key), same argument as the
    * decontamination join.
    *
    * Output: (idCol, n_lines, n_dropped, clean_text) — clean_text keeps
    * surviving lines in original order, '\n'-joined ("" if everything
    * was boilerplate).
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
      minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs ($minDocs) must be >= 2")
    val lines = df.select(col(idCol), split(col(textCol), "\n").as("_lines"))
    val exploded = lines
      .select(col(idCol), posexplode(col("_lines")).as(Seq("pos", "_l")))
      .select(col(idCol), col("pos"), md5(col("_l")).as("_lh"))
    val common = exploded.select(col("_lh"), col(idCol)).distinct()
      .groupBy("_lh").agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") >= minDocs)
      .select("_lh")
    val dropped = exploded.join(common, "_lh")
      .groupBy(idCol).agg(collect_set(col("pos")).as("_drop"))
    lines.join(dropped, Seq(idCol), "left")
      .withColumn("_drop", coalesce(col("_drop"), array().cast("array<int>")))
      .select(col(idCol),
        size(col("_lines")).cast("long").as("n_lines"),
        size(col("_drop")).cast("long").as("n_dropped"),
        array_join(
          filter(col("_lines"), (_, i) => !array_contains(col("_drop"), i)),
          "\n").as("clean_text"))
  }

  /** PII/URL scrubbing — the redaction pass every production training
    * pipeline runs before tokenization. Replacement order matters and is
    * fixed: URLs first (so an address inside a URL is already gone),
    * then emails, then long digit runs (card/phone-like). The regexes
    * use only syntax with identical semantics in Java regex and RE2, so
    * the scrub oracles exactly.
    */
  // Stop at ANY whitespace (space/tab/CR/LF) — `[^ ]+` would swallow a
  // tab or newline and everything after it up to the next space,
  // over-redacting multi-line documents. Escapes spelled `\t`/`\n`/`\r`
  // inside the class parse identically in Java regex and RE2 (`\s` does
  // too, but the explicit class keeps the oracle SQL byte-identical).
  val UrlRe = "https?://[^ \\t\\n\\r]+"
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val LongDigitRe = "[0-9]{8,}"

  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlRe, "<URL>"),
        EmailRe, "<EMAIL>"),
      LongDigitRe, "<NUM>")

  /** TRAINED language ID: add-one-smoothed Naive Bayes over char
    * trigrams (the CLD/fastText production shape, vs the marker-word
    * heuristic [[languageIdFromWords]]): train per-language trigram
    * log-probs from labeled rows, then classify every row with the
    * model — train and apply in one lazy plan here; production persists
    * `model` and keeps the identical inference join.
    *
    * The Naive-Bayes trap this implementation handles explicitly: a
    * trigram UNSEEN for language l must contribute the smoothing floor
    * ln(1/(n_l+V)), but an inner model join silently drops it — so the
    * score is assembled as seen-part + (n_doc − seen_tokens)·floor(l),
    * per language (see [[nbWideTail]] — the floors are per-language
    * literals and the assembly is column-wise, no row fan-out).
    *
    * Determinism: per-(lang, trigram) log-probs quantize to integer
    * micro-nats before any cross-row sum; argmax ties break on the
    * language code. Scale: training is two partial-combine aggs on
    * skew-free keys; the model pivots to one row per trigram with
    * |langs| columns and 1:1-joins the per-doc trigram table (r15 —
    * the (lang, g) long-form probe fanned every dg row out ×|langs|).
    * Output: (doc, lang_true, pred_lang, correct).
    *
    * Materialization (r15): `dg` and `lg` are localCheckpoint'ed. The
    * trigram explode + (doc, g) shuffle feeds TWO consumers (the model
    * rollup and the scoring probe) and the (lang, g) model table feeds
    * THREE (totals, vocabulary, log-probs) — left lazy, Spark re-runs
    * the corpus explode once per consumer because the shared subtree
    * sits below different exchanges (ReuseExchange only dedupes
    * identical ones). The r15 honest-action bench caught it: 28.5 s at
    * sf0.01 under a full-column action vs 2.8 s under the pruned
    * `.count()`. Checkpointing dg costs one corpus-linear
    * materialization — the same order as the shuffle already paid —
    * and converts ~5 explode+shuffle re-runs into 1 (measured 28.5 →
    * ~4 s at sf0.01). At warehouse scale the equivalent is persisting
    * the per-doc feature table once per training run.
    */
  def naiveBayesLangId(df: DataFrame, idCol: String, textCol: String,
      langCol: String, vocabEnvelope: Long = 20000000L): DataFrame = {
    val base = df.select(col(idCol).as("doc"), col(langCol).as("lang_true"),
      col(textCol).as("_t"))
    // Explode an INTEGER position sequence and slice per row — building
    // a per-doc ARRAY of 3-char UTF8Strings inside transform() allocates
    // one string object per trigram before the explode even runs
    // (measured: the array form costs ~1.6x the whole index-explode +
    // slice + aggregate pipeline at sf1). The oracle already replays
    // this exact shape (unnest(range) + substr).
    val tri = base.filter(length(col("_t")) >= 3)
      .select(col("doc"), col("lang_true"), col("_t"),
        explode(expr("sequence(1, length(_t) - 2)")).as("_i"))
      .select(col("doc"), col("lang_true"),
        expr("substring(_t, _i, 3)").as("g"))
    // ONE pass over the exploded trigram stream: per-doc counts first
    // (lang rides along — functional on doc, so cardinality is
    // unchanged), then the per-language model is a rollup of the much
    // smaller (doc, g) table instead of a second corpus explode.
    val dg = tri.groupBy("doc", "lang_true", "g").agg(count(lit(1)).as("_c"))
      .localCheckpoint(true) // feeds the model rollup AND the scoring probe
    val lg = dg.groupBy(col("lang_true").as("lang"), col("g"))
      .agg(sum("_c").as("_clg"))
      .localCheckpoint(true) // feeds totals, vocabulary, and log-probs
    // Heaps'-law contract (SCALE_SWEEP_r13): the whole pipeline is
    // corpus-linear ONLY while the trigram vocabulary stays model-sized
    // — the (lang, g) model table and the dg⋈model probe both scale
    // with it. A corpus whose vocabulary outgrows the envelope fails
    // HERE, on the vocabulary count, with the remedy named — never as
    // a silent 100× blowup downstream.
    val vocab = lg.select("g").distinct().count()
    if (vocab > vocabEnvelope) throw new IllegalStateException(
      s"naiveBayesLangId: trigram vocabulary $vocab exceeds the"
        + s" model-size envelope ($vocabEnvelope); hash trigrams into a"
        + " bounded feature space (naiveBayesLangIdHashed) or keep"
        + " top-K trigrams per language upstream")
    nbWideTail(base, dg, lg, vocab)
  }

  /** BOUNDED-vocabulary trained language ID — the scale-safe twin of
    * [[naiveBayesLangId]] (the "hashing trick", Weinberger et al.
    * ICML'09): every char trigram is hashed into a FIXED feature space
    * of `buckets` cells (md5 prefix → 60-bit integer → mod buckets, the
    * repo's cross-engine hash idiom), and smoothing uses the fixed
    * bucket count as the vocabulary. Consequences, all deliberate:
    *
    *  - the model table is ≤ |langs|·buckets rows NO MATTER the corpus
    *    — the Heaps'-law superlinearity that forced the unhashed
    *    variant's `vocabEnvelope` guard cannot occur, so there is no
    *    envelope here: this is the variant the guard message tells a
    *    100×-corpus caller to switch to;
    *  - colliding trigrams share a cell (their counts add) — the
    *    standard hashing-trick bias, negligible while distinct
    *    trigrams ≪ buckets and bounded regardless;
    *  - the add-one denominator is n_l + buckets (fixed V), so scores
    *    differ from the unhashed model's — this is a different, bounded
    *    model with its own oracle, not a drop-in replay.
    *
    * Same determinism contract as the unhashed variant: integer
    * micro-nat quantization before any sum, argmax ties to the smaller
    * language code. Same materialization: dg and lg checkpoint once
    * for their multiple consumers. Output: (doc, lang_true, pred_lang,
    * correct).
    */
  def naiveBayesLangIdHashed(df: DataFrame, idCol: String, textCol: String,
      langCol: String, buckets: Int = 1 << 20): DataFrame = {
    val base = df.select(col(idCol).as("doc"), col(langCol).as("lang_true"),
      col(textCol).as("_t"))
    // Index-explode + per-row slice (see naiveBayesLangId — the array
    // form measured ~1.6x this pipeline). The md5 beats a
    // codepoint-polynomial hash here: one 3-char slice + digest per
    // trigram vs three 1-char slices (measured 44 s vs 73 s at sf1).
    // 60-bit md5 prefix mod a fixed power of two — positive, exact in
    // long, and byte-identical in the DuckDB oracle
    // (CAST('0x'||substr(md5(g),1,15) AS BIGINT) % buckets).
    val tri = base.filter(length(col("_t")) >= 3)
      .select(col("doc"), col("lang_true"), col("_t"),
        explode(expr("sequence(1, length(_t) - 2)")).as("_i"))
      .select(col("doc"), col("lang_true"),
        pmod(conv(substring(md5(expr("substring(_t, _i, 3)")), 1, 15), 16, 10)
          .cast("long"), lit(buckets.toLong)).as("g"))
    val dg = tri.groupBy("doc", "lang_true", "g").agg(count(lit(1)).as("_c"))
      .localCheckpoint(true) // feeds the model rollup AND the scoring probe
    val lg = dg.groupBy(col("lang_true").as("lang"), col("g"))
      .agg(sum("_c").as("_clg"))
      .localCheckpoint(true) // feeds totals and log-probs
    nbWideTail(base, dg, lg, buckets.toLong)
  }

  /** Shared scoring tail of the two trained-NB variants (r15 WIDE-MODEL
    * form). The long-form assembly joined dg ⋈ (lang, g) model — a
    * ×|langs| fan-out of the corpus-sized feature table (38 M rows at
    * sf1) — then aggregated (doc, lang) scores and argmax'd. Here the
    * model PIVOTS to one row per feature with a per-language log-prob
    * column (|langs| is bounded metadata), so inference is ONE 1:1
    * equi join on the feature key + ONE per-doc combine aggregate; the
    * argmax folds over |langs| static columns with ties to the
    * smallest language code, exactly as before.
    *
    * The |langs|-row totals table is COLLECTED (the bounded-metadata
    * collect precedent — bandit arms, attribution transition model):
    * per-language add-one denominators and unseen-mass floors become
    * literals. Floors use the same Math.log → ×1e6 → floor(+0.5)
    * quantization the SQL form compiled to, so scores are bit-identical
    * to the long form's.
    *
    * `vocab` is the add-one vocabulary: the measured distinct-feature
    * count (unhashed, envelope-guarded by the caller) or the fixed
    * bucket count (hashed).
    */
  private def nbWideTail(base: DataFrame, dg: DataFrame, lg: DataFrame,
      vocab: Long): DataFrame = {
    val nl: Array[(String, Long)] = lg.groupBy("lang")
      .agg(sum("_clg").cast("long").as("_nlt"))
      .orderBy("lang")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(nl.nonEmpty, "naiveBayesLangId: no trained languages")
    val langs = nl.map(_._1)
    val fl: Map[String, Long] = nl.map { case (l, n) =>
      l -> math.floor(math.log(1.0 / (n + vocab).toDouble) * 1000000.0 + 0.5)
        .toLong
    }.toMap
    val denomExpr = nl.tail.foldLeft(
      when(col("lang") === nl.head._1, lit(nl.head._2 + vocab))) {
        case (acc, (l, n)) => acc.when(col("lang") === l, lit(n + vocab))
      }
    val model = lg.select(
      concat(lit("_li_"), col("lang")).as("lang"), col("g"),
      floor(log((col("_clg") + 1) / denomExpr.cast("double"))
        * 1000000.0 + 0.5).cast("long").as("_li"))
    val wide = model.groupBy("g")
      .pivot("lang", langs.toSeq.map("_li_" + _)).agg(first("_li"))
    // every g in dg was counted into lg for its own language, so the
    // probe join is inner-complete; per-language nulls inside a row are
    // the unseen-for-that-language case and contribute the floor.
    val aggs = langs.toSeq.flatMap { l =>
      Seq(
        sum(col("_c") * coalesce(col(s"_li_$l"), lit(0L))).as(s"_s_$l"),
        sum(when(col(s"_li_$l").isNotNull, col("_c")).otherwise(lit(0L)))
          .cast("long").as(s"_sn_$l"))
    }
    val per = dg.join(wide, Seq("g"))
      .groupBy("doc", "lang_true")
      .agg(aggs.head, aggs.tail: _*)
    val docTot = base.select(col("doc"), col("lang_true"),
      greatest(length(col("_t")) - 2, lit(0)).cast("long").as("_n"))
    val scores: Seq[(String, Column)] = langs.toSeq.map { l =>
      l -> (coalesce(col(s"_s_$l"), lit(0L))
        + (col("_n") - coalesce(col(s"_sn_$l"), lit(0L))) * lit(fl(l)))
    }
    val best =
      if (scores.size == 1) scores.head._2 else greatest(scores.map(_._2): _*)
    // foldRight puts the FIRST (lexicographically smallest) language
    // outermost — ties break to the smaller code, as in the long form.
    val pred = scores.foldRight(lit(null).cast("string")) {
      case ((l, s), acc) => when(s === best, lit(l)).otherwise(acc)
    }
    docTot.join(per, Seq("doc", "lang_true"), "left")
      .select(col("doc"), col("lang_true"), pred.as("pred_lang"),
        (col("lang_true") === pred).as("correct"))
  }

  /** Marker-word language-ID heuristic: score each language by counting
    * its marker words (with multiplicity); predict the argmax, ties
    * broken by language-code order. A real system would use char-n-gram
    * profiles over a trained table — the shape (per-language score →
    * argmax, one narrow projection) is identical.
    */
  def languageId(text: Column, markers: Seq[(String, Seq[String])]): Column =
    languageIdFromWords(words(text), markers)

  /** As [[languageId]] but over a pre-split word-array column (the
    * hot-path form: one split per row, not one per language profile).
    */
  def languageIdFromWords(w: Column, markers: Seq[(String, Seq[String])]): Column = {
    val scores = markers.map { case (lang, ms) =>
      lang -> size(filter(w, x => x.isin(ms: _*)))
    }
    val best = greatest(scores.map(_._2): _*)
    scores.foldRight(lit(null).cast("string")) { case ((lang, s), acc) =>
      when(s === best, lit(lang)).otherwise(acc)
    }
  }

  /** Water-filling budget allocation: split a global token budget
    * across sources, capping each at its availability — the "how much
    * of each source goes into this training run" decision once caps
    * and budget conflict (uncapped proportional allocation over-asks
    * small sources; greedy-by-size starves them).
    *
    * Classic water-filling, EXACT in integers: sources sorted
    * ascending by (availability, key); source i is SATURATED (takes
    * all it has) iff avail_i·(n−i+1) ≤ B − prefix_excl_i — the level
    * test spelled as an integer cross-multiplication, no division, no
    * floats. The survivors share the remaining budget R as
    * base = R div m each, with the R mod m remainder going one token
    * each to the first (R mod m) unsaturated sources in sort order —
    * so Σ allocated == B EXACTLY whenever B ≤ Σ avail, in any engine,
    * at any partitioning (every operand is a long).
    *
    * Scale: the allocation runs on the |sources|-row availability
    * table — metadata, like the compaction plan — with windows over
    * that table only; the corpus contributes one partial-combine
    * token-count aggregation. Output: (key, avail, allocated,
    * saturated).
    */
  def waterFill(avail: DataFrame, keyCol: String, availCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0, s"budget ($budget) must be >= 0")
    val w = Window.orderBy(col("avail"), col("key"))
    val base = avail
      .select(col(keyCol).as("key"), col(availCol).cast("long").as("avail"))
      .withColumn("_i", row_number().over(w))
      .withColumn("_pex",
        coalesce(sum("avail").over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn("_n", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("saturated",
        col("avail") * (col("_n") - col("_i") + 1) <= lit(budget) - col("_pex"))
    val agg = base.agg(
      sum(when(col("saturated"), col("avail")).otherwise(0L)).as("_satsum"),
      sum(when(col("saturated"), 0L).otherwise(1L)).as("_m"))
    val withTot = base.crossJoin(broadcast(agg))
      .withColumn("_r", lit(budget) - coalesce(col("_satsum"), lit(0L)))
      .withColumn("_urank", sum(when(col("saturated"), 0L).otherwise(1L))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
    withTot.select(col("key"), col("avail"),
      when(col("saturated"), col("avail"))
        .otherwise(
          expr("_r div _m") +
            when(col("_urank") <= col("_r") % col("_m"), 1L).otherwise(0L))
        .as("allocated"),
      col("saturated"))
  }

  /** Trending terms: per-window term counts with lift against the
    * PREVIOUS window — the drift/emerging-topic monitor a continuously
    * crawled corpus runs per ingest day ("which vocabulary is suddenly
    * hot?" catches both real events and crawler traps/spam floods).
    *
    * Shape: one explode into a partial-combine count on the skew-free
    * (window, term) key, then ONE self-equi-join on (window−1, term) —
    * never a window function over terms, never a global sort. Lift is
    * add-one-smoothed ((n+1)/(n_prev+1)) so terms newborn this window
    * (n_prev = 0, the interesting ones) rank by their own mass instead
    * of dividing by zero; the ratio is round6-pinned from integer
    * counts. `minCount` bounds the output to terms with real support —
    * the filter prunes the CUR side before its join shuffle. The prev
    * side is INTENTIONALLY unfiltered: lift against a sub-threshold
    * previous window is exactly the newborn-term signal this monitor
    * exists for, so prev shuffles the per-window vocabulary — already
    * combine-reduced to (window, term) counts (×vocab-per-window, not
    * ×corpus). When the distinct hot-term set is small enough to
    * broadcast, a left-semi prune of prev against it is a lossless
    * add-on (every prev row that survives the left join belongs to a
    * term that passed minCount in the next window); not applied by
    * default because at crawl scale that set is itself vocabulary-sized
    * and the semi-join would just re-shuffle prev.
    */
  def trendingTerms(df: DataFrame, windowCol: String, textCol: String,
      minCount: Long): DataFrame = {
    val counts = df
      .select(col(windowCol).cast("long").as("win"),
        explode(words(col(textCol))).as("term"))
      .groupBy("win", "term").agg(count(lit(1)).as("n"))
    val cur = counts.filter(col("n") >= minCount)
    val prev = counts
      .select((col("win") + 1).as("win"), col("term"),
        col("n").as("n_prev"))
    cur.join(prev, Seq("win", "term"), "left")
      .select(col("win"), col("term"), col("n"),
        coalesce(col("n_prev"), lit(0L)).as("n_prev"))
      .withColumn("lift",
        round6((col("n") + 1) / (col("n_prev") + lit(1)).cast("double")))
  }

  /** URL canonicalization — the key-normalization step of crawl dedup
    * (the same page arrives as `HTTPS://Site.com:443/p?utm_source=x#top`
    * and `https://site.com/p`; byte-equality dedup sees two documents,
    * canonical-URL dedup sees one). Rules, all regex-expressible so the
    * DuckDB oracle can replay them:
    *  - scheme and host lowercase (path/query stay case-sensitive per
    *    RFC 3986);
    *  - default port stripped (`:443` for https, `:80` for http);
    *  - fragment dropped (never sent to the server);
    *  - `utm_*` tracking parameters removed POSITIONALLY — three rules
    *    (first-with-successor keeps the `?`, sole-param drops it,
    *    non-first drops its `&`) so no seam repair pass is needed. A
    *    repair-based spelling (`^([^?&]*)&` → `?`) was REJECTED: it
    *    corrupts URLs carrying a literal `&` in the path, which RFC
    *    3986 permits. One scrub pass removes every non-adjacent
    *    tracker; ADJACENT utm params would need a fixpoint loop
    *    (replacement text is not rescanned) — at ingest that's a
    *    bounded re-apply, not done here. An empty trailing `?` drops.
    *
    * Inputs that do not look like absolute URLs (no `scheme://` —
    * relative paths, bare hosts, malformed crawl fragments) pass
    * through UNCHANGED: regexp_extract returns '' on no match, so the
    * naive spelling mapped every such input to a `'://'`-prefixed
    * remnant, letting distinct malformed URLs collide on one canonical
    * key and be wrongly merged by [[urlDedup]].
    *
    * Pure narrow projection (a regexp_extract/replace chain, whole-stage
    * codegen) — the dedup that follows is one combine-style shuffle on
    * the near-unique canonical key, X1's exact shape.
    */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val host = lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val hostNoPort =
      when(scheme === "https", regexp_replace(host, ":443$", ""))
        .when(scheme === "http", regexp_replace(host, ":80$", ""))
        .otherwise(host)
    val rest = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$", 1)
    val noFrag = regexp_replace(rest, "#.*$", "")
    val utmFirst = regexp_replace(noFrag,
      "\\?utm_[A-Za-z0-9_]*=[^&#]*&", "?")
    val utmSole = regexp_replace(utmFirst,
      "\\?utm_[A-Za-z0-9_]*=[^&#]*$", "")
    val utmLater = regexp_replace(utmSole,
      "&utm_[A-Za-z0-9_]*=[^&#]*", "")
    val clean = regexp_replace(utmLater, "\\?$", "")
    when(url.rlike("^[A-Za-z][A-Za-z0-9+.-]*://"),
      concat(scheme, lit("://"), hostNoPort, clean))
      .otherwise(url)
  }

  /** Keep-first dedup on the canonical URL: one row per canonical key
    * with the lowest id and the copy count — `min_by`-free spelling not
    * needed since min(id) IS the keep-first rule here (no payload).
    */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        canonicalizeUrl(col(urlCol)).as("canonical_url"))
      .groupBy("canonical_url")
      .agg(min("doc_id").as("doc_id"),
        count(lit(1)).cast("long").as("n_copies"))
      .select("doc_id", "canonical_url", "n_copies")

  /** PII redaction patterns, applied IN ORDER (email first: its local
    * part and host can contain digit runs that the later numeric
    * patterns would otherwise double-count). Deliberately conservative
    * regexes restricted to syntax Java and RE2 share (no lookaround, no
    * backreferences) so the same pattern is executable — and
    * oracle-checkable — in both engines. `\b` is the ASCII word
    * boundary in both.
    */
  private[graft] val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>"),
    ("phone", "\\+[0-9]{7,15}\\b", "<PHONE>"),
    ("card", "\\b[0-9]{13,16}\\b", "<CARD>"))

  /** PII scrubbing — the redaction pass every distributable training
    * corpus runs before release (emails, IPv4s, international phone
    * numbers, card-length digit runs → typed placeholder tokens), with
    * per-category match counts for the compliance report.
    *
    * Counts are taken STAGE-WISE on the progressively-redacted text
    * (email count on the original, IP count after emails are gone, …):
    * categories can overlap textually (digits inside an email), and
    * counting each pattern against the text its replace actually sees
    * makes count and replacement provably consistent — and makes the
    * whole chain a pure function both engines replay identically
    * (`md5(redacted)` is hash-compared cross-engine by the oracle).
    *
    * Scale: one narrow projection — four codegen'd regexp_replace +
    * four regexp_extract_all over each row, zero shuffles, zero joins;
    * the plan is a single WholeStageCodegen span over the scan. Regex
    * cost is linear in text length (no backtracking constructs).
    * Recall/precision of the conservative patterns is a policy knob,
    * not an engine property — swap patterns per deployment; the
    * ORDERING contract (most-specific first) is what the operator owns.
    */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val start: (Column, Seq[(String, Column)]) = (col(textCol), Nil)
    val (redacted, counts) = piiPatterns.foldLeft(start) {
      case ((txt, cs), (name, pat, token)) =>
        val n = size(regexp_extract_all(txt, lit(pat), lit(0)))
          .cast("long").as(s"n_$name")
        (regexp_replace(txt, pat, token), cs :+ (name, n))
    }
    df.select(col(idCol) +: counts.map(_._2) :+
      md5(redacted).as("redacted_md5") :+
      length(redacted).cast("long").as("redacted_len"): _*)
  }

  /** Heavy hitters (words with count ≥ support·total) via a count-min
    * candidate filter + exact confirmation — the frequent-items pattern
    * that never shuffles the vocabulary long tail.
    *
    * The plain spelling (`groupBy(word).count.filter(≥T)`) shuffles one
    * combine row per (word, partition): Heaps' law puts |vocab| in the
    * billions at 100 TB, and that long tail — which by definition
    * CANNOT contain a heavy hitter — is the entire shuffle. Here:
    *
    *  1. ONE pass builds a count-min sketch as a (depth × width)-row
    *     aggregate — shuffle keys capped at depth·width CONSTANT rows
    *     regardless of corpus or vocabulary size.
    *  2. Every token occurrence probes the sketch via `depth` broadcast
    *     joins (the sketch is model-sized by construction, ≤ d·w rows);
    *     est = least over rows. CMS only ever OVER-counts, so
    *     est ≥ true count — every true heavy hitter survives the
    *     candidate filter (no false negatives), plus a collision-bounded
    *     sliver of false candidates.
    *  3. Exact `groupBy(word)` over CANDIDATE occurrences only: the
    *     shuffle now carries ≤ (1/support + collisions) distinct words
    *     per partition — the long tail is gone before the exchange.
    *  4. The final `count ≥ T` filter is exact, so the result is
    *     IDENTICAL to the plain spelling — the sketch changes the plan,
    *     never the answer (the property the oracle row hash-checks).
    *
    * T derives in-plan from the total token count (a 1-row broadcast,
    * integer `div` — exact cross-engine). With a tiny support the
    * candidate filter passes everything and this degenerates to the
    * plain wordcount plus sketch overhead — the pattern pays for itself
    * when 1/support ≪ |vocab|, which is every real monitoring use.
    *
    * Width sizing (width ≤ 0 → auto = 8/support, floor 1024): the
    * sketch's shuffle is depth·width combine rows PER PARTITION, so an
    * oversized width silently re-creates the per-partition shuffle
    * volume the sketch exists to remove (`ScaleBench heavy_hitters` measured a
    * 2^16-wide sketch shuffling MORE than the plain wordcount on a 6M-
    * word tail). 8/support keeps expected bucket mass at T/8 — candidate
    * false positives need a word to collide with a true heavy hitter in
    * ALL depth rows, (hitters/width)^depth ≈ negligible — while keeping
    * depth·width a few thousand rows. Exactness never depends on width;
    * only the candidate-sliver size does.
    */
  def heavyHitters(df: DataFrame, textCol: String, supportPpm: Long = 2000,
      depth: Int = 3, width0: Int = -1): DataFrame = {
    require(supportPpm > 0 && supportPpm <= 1000000,
      s"supportPpm ($supportPpm) must be in (0, 1e6]")
    val width = if (width0 > 0) width0
      else math.max(1024L, 8L * 1000000L / supportPpm).toInt
    require(depth >= 1 && width >= 2, s"bad sketch dims ($depth × $width)")
    val toks = df.select(explode(words(col(textCol))).as("w"))
    val keyed = toks.select(col("w") +: (0 until depth).map(i =>
      pmod(hash(col("w"), lit(i)), lit(width)).as(s"_b$i")): _*)
    val cms = keyed
      .select(posexplode(array((0 until depth).map(i => col(s"_b$i")): _*))
        .as(Seq("_i", "_bucket")))
      .groupBy("_i", "_bucket").agg(count(lit(1)).as("_c"))
    // total tokens = sum of any one sketch row; threshold as exact
    // integer arithmetic (ppm · total div 1e6), never float
    val totals = cms.filter(col("_i") === 0)
      .agg(sum("_c").as("_total"))
      .select(greatest(lit(1L),
        expr(s"_total * $supportPpm div 1000000")).as("_t"))
    val probed = (0 until depth).foldLeft(keyed) { (acc, i) =>
      acc.join(broadcast(cms.filter(col("_i") === i)
        .select(col("_bucket").as(s"_b$i"), col("_c").as(s"_c$i"))),
        Seq(s"_b$i"))
    }
    val est = if (depth == 1) col("_c0")
      else least((0 until depth).map(i => col(s"_c$i")): _*)
    probed
      .withColumn("_est", est)
      .crossJoin(broadcast(totals))
      .filter(col("_est") >= col("_t"))
      .groupBy("w", "_t")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= col("_t"))
      .select(col("w").as("word"), col("n"))
  }

  /** MinHash source-overlap matrix — sketch ALGEBRA at corpus grain:
    * estimate the shingle-set Jaccard between every pair of sources
    * from k per-source min-hashes, never materializing or joining the
    * shingle sets themselves. The exact spelling (X79
    * `llm_source_overlap`) intersects real shingle sets — right for a
    * handful of sources at audit time; this is the shape that keeps
    * working when overlap must be tracked continuously: the sketch
    * table is |sources|×k MERGEABLE state (min is a monoid), so new
    * documents fold in with a combine agg and two sources' sketches
    * union by pairwise min without touching history.
    *
    * Determinism: slot hashes are `md5(slot|shingle)` hex, min taken
    * as STRING min (hex order = 128-bit value order, the [[seededMd5]]
    * contract) — identical in any engine, so even the ESTIMATES are
    * hash-comparable cross-engine (X34's "sketches are engine-specific"
    * caveat does not apply: this sketch is deterministic by
    * construction).
    *
    * Scale: one corpus pass with a k× explode fan-out (the standard
    * MinHash cost), reduced map-side by the (source, slot) combine min
    * — the shuffle carries ≤ |sources|·k·|partitions| rows. The pair
    * join runs on the |sources|×k sketch table only.
    */
  /** The |sources|×k sketch table itself: (src, slot, mh). Min is a
    * monoid, so two sketches union by per-slot min and new batches
    * fold in with the same combine agg (mergeability unit-proven).
    *
    * Two plan decisions, both measured at sf0.1 / k=32:
    *  - one md5 per shingle + k multiply-mod mixes, not k md5s: base
    *    hash h < 2³⁰ and per-slot universal-family coefficients (a_j
    *    odd < 2³⁰, b_j < 2³⁰, pure functions of j) give slot hash
    *    (a_j·h + b_j) mod 1073741789 with every product < 2⁶⁰ — exact
    *    long arithmetic, engine-portable;
    *  - the k mins are k AGGREGATE COLUMNS over the un-exploded
    *    shingle rows, unpivoted to (slot, mh) only after the combine —
    *    the slot-explode spelling pushes k× the rows through the
    *    combine to compute the same k mins. Measured: 5.9 s
    *    hash-per-slot → ~4.5 s for either mix spelling at sf0.1, where
    *    the md5-over-shingles map pass dominates; the columnar form is
    *    kept because its shuffle carries |sources| rows instead of
    *    |sources|·k — the term that matters when the corpus (and
    *    partition count) grows 1000×.
    */
  def minhashSketch(
      docs: DataFrame,
      srcCol: String,
      textCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k ($k) must be > 0")
    val M = 1073741789L
    def aC(j: Int): Long = (2654435761L * (j + 1)) % 536870912L * 2 + 1
    def bC(j: Int): Long = (40503L * (j + 1)) % 1073741824L
    val mins = (0 until k).map(j =>
      min(pmod(lit(aC(j)) * col("_h") + lit(bC(j)), lit(M))).as(s"_m$j"))
    docs
      .select(col(srcCol).as("src"),
        explode(wordShingles(col(textCol), 3)).as("_sh"))
      .select(col("src"),
        pmod(conv(substring(md5(col("_sh")), 1, 15), 16, 10).cast("long"),
          lit(1073741824L)).as("_h"))
      .groupBy("src")
      .agg(mins.head, mins.tail: _*)
      .select(col("src"), posexplode(
        array((0 until k).map(j => col(s"_m$j")): _*)))
      .select(col("src"), col("pos").cast("int").as("slot"),
        col("col").as("mh"))
  }

  def minhashSourceOverlap(
      docs: DataFrame,
      srcCol: String,
      textCol: String,
      k: Int): DataFrame = {
    val sketch = minhashSketch(docs, srcCol, textCol, k)
    sketch.as("a").join(sketch.as("b"), Seq("slot"))
      .filter(col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(sum(when(col("a.mh") === col("b.mh"), 1L).otherwise(0L))
        .as("n_match"))
      .select(col("src_a"), col("src_b"), lit(k).as("k"), col("n_match"),
        round6(col("n_match") / lit(k).cast("double")).as("j_est"))
  }

  /** PMI phrase detection — the word2vec phrase-merging pass (Mikolov
    * et al. 2013 §4): score every adjacent word pair by
    * `(c_ab − δ)·N / (c_a·c_b)` (≈ e^PMI with a discount δ that kills
    * rare-pair noise) and flag pairs above `threshold` as phrase
    * candidates ("machine learning" → "machine_learning" before
    * tokenizer training). Using Mikolov's RAW ratio instead of log-PMI
    * keeps the decision in exact integer arithmetic — no `ln` near a
    * threshold boundary — and the flag's cross-multiplied compare runs
    * in DECIMAL(38,0) (DuckDB HUGEINT), so `c_ab·N·10⁶` cannot overflow
    * Long even at web-corpus token counts where N ~ 10¹².
    *
    * Scale shape: bigrams come from an ARRAY zip on each doc's word
    * list (no per-doc window, no sort); unigram and bigram counts are
    * two combine-style aggs; the support filter (`c_ab ≥ minCount`,
    * word2phrase's min-count) prunes the pair table BEFORE the two
    * |vocab|-row count joins; N joins in as a broadcast 1-row frame.
    *
    * Output: (w1, w2, c_ab, c_a, c_b, n_tokens, score, phrase 0/1).
    */
  def pmiPhrases(df: DataFrame, textCol: String, discount: Long = 5L,
      minCount: Long = 5L, thresholdMicro: Long = 3000000L): DataFrame = {
    require(minCount > discount, // below δ the score is ≤ 0 by construction
      s"minCount ($minCount) must exceed discount ($discount)")
    val w = df.select(words(col(textCol)).as("_w"))
    val uni = w.select(explode(col("_w")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val n = uni.agg(sum("c").as("n_tokens"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    w.select(explode(shinglesFromWords(col("_w"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .join(uni.select(col("w").as("w1"), col("c").as("c_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
        col("n_tokens"),
        round6((dec(col("c_ab") - lit(discount)) * dec(col("n_tokens")))
            .cast("double")
          / (dec(col("c_a")) * dec(col("c_b"))).cast("double")).as("score"),
        when(dec(col("c_ab") - lit(discount)) * dec(col("n_tokens"))
            * dec(lit(1000000L))
            >= dec(lit(thresholdMicro)) * dec(col("c_a")) * dec(col("c_b")),
          1).otherwise(0).as("phrase"))
  }

  /** Asymmetric set-CONTAINMENT join (Broder 1997: C(A→B) = |A∩B|/|A|):
    * pairs where doc A's shingle set is (nearly) a subset of doc B's —
    * the quote-page / boilerplate-wrapper duplication that SYMMETRIC
    * Jaccard misses by construction (a 30-word quote inside a 400-word
    * page has Jaccard ≈ 0.07 but containment 1.0), which is why
    * production dedup (e.g. the Lee et al. 2022 discussion of
    * near-duplicate supersets) needs both measures.
    *
    * Candidate generation prefix-filters the CONTAINED side only: if
    * |A∩B| ≥ ⌈t·|A|⌉, at least one of A's (|A| − ⌈t·|A|⌉ + 1) rarest
    * shingles appears in B, so A explodes that prefix while B explodes
    * its FULL set (the containing side cannot be pruned — containment
    * puts no lower bound on B's share). Per-token fan-out is
    * f_prefix(tok) × f_full(tok): the unbounded factor pairs with the
    * rare-first prefix one, so candidates stay bounded by true
    * rare-token co-occurrence, never corpus². The threshold travels as
    * integer MICRO-units and every comparison — the prefix length's
    * ⌈t·c⌉ and the final `inter·10⁶ ≥ ca·tµ` test — is exact integer
    * arithmetic, so no engine's float rounding can flip a boundary
    * (0.8·10⁶ is NOT 800000 in doubles; a Double-threshold API would
    * ship that bug silently).
    *
    * Output: (doc_a, doc_b, ca, cb, inter, containment) — doc_a
    * contained in doc_b; a mutual pair appears in both directions.
    */
  def containmentJoin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      thresholdMicro: Long = 800000L,
      repartitionInput: Boolean = false): DataFrame = {
    require(thresholdMicro > 0L && thresholdMicro <= 1000000L,
      s"thresholdMicro ($thresholdMicro) must be in (0, 1000000]")
    // Integer-rank token dictionary (r16 — the setSimJoin/VernicaJoin
    // treatment applied to the asymmetric join): shingles map to their
    // rank under the SAME rare-first (freq asc, shingle asc) total
    // order the struct sort used, so the sorted rank array, the
    // prefix slice, and |A∩B| are all bijection-identical to the
    // string spelling — while the candidate join keys on longs, the
    // per-doc state is a primitive array (the string arrays were the
    // GC feed behind the 2-5× rep variance), and array_intersect takes
    // the primitive codegen path.
    val perDoc = rankedSets(
        setSimSets(df, idCol, textCol, shingleN, repartitionInput))
      // ⌈c·t⌉ in exact integers: (c·tµ + 10⁶ − 1) div 10⁶
      .withColumn("_plen",
        (col("c") - expr(s"(c * $thresholdMicro + 999999) div 1000000") + 1)
          .cast("int"))
      .withColumn("pref", expr("slice(ss, 1, _plen)"))
      .select("doc", "ss", "c", "pref")
      // referenced FOUR times below (asymmetric candidate sides + both
      // verify joins) — unlike setSimJoin's three symmetric consumers,
      // the asymmetric projections defeat ReusedExchange here: measured
      // unmaterialized 9.4 s median / 2-5× GC-driven rep variance vs
      // ~3 s checkpointed at sf0.1
      .localCheckpoint(true)
    val prefA = perDoc.select(col("doc").as("doc_a"),
      explode(col("pref")).as("_tok"))
    val fullB = perDoc.select(col("doc").as("doc_b"),
      explode(col("ss")).as("_tok"))
    val cand = prefA.join(fullB, "_tok")
      .filter(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(perDoc.select(col("doc").as("doc_a"), col("ss").as("sa"),
        col("c").as("ca")), "doc_a")
      .join(perDoc.select(col("doc").as("doc_b"), col("ss").as("sb"),
        col("c").as("cb")), "doc_b")
      .withColumn("inter",
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .filter(col("inter") * lit(1000000L) >= col("ca") * lit(thresholdMicro))
      .select(col("doc_a"), col("doc_b"), col("ca"), col("cb"), col("inter"),
        round6(col("inter") / col("ca")).as("containment"))
  }

  /** Longest consecutive repeated-token run per document — the
    * degenerate-repetition quality signal ("buy buy buy … ×500",
    * decoder loops, scraped keyword stuffing) that distinct-token
    * ratios dilute on long documents and global n-gram frequency
    * misses entirely (a doc-local run is globally rare when its token
    * is).
    *
    * One `aggregate` higher-order expression over the in-row token
    * array: zero shuffle, no explode, no per-doc window — the corpus
    * is never row-inflated |tokens|×. State is (prev, run, best,
    * btok); `best` updates only on STRICTLY greater run length, so
    * the FIRST run of the maximum length owns the report — the same
    * rule an oracle spells as rank by (len DESC, start ASC).
    *
    * Returns a struct (n_tokens, max_run, run_token).
    */
  /** N-gram novelty rate of candidate documents against a reference
    * corpus: the share of a doc's DISTINCT n-gram shingles never seen
    * in the reference — the incremental-ingest counterpart of
    * decontamination (there: does the train set leak the benchmark;
    * here: does the new batch add anything, or is it re-crawl). Low
    * novelty ⇒ near-duplicate of existing data, skip before paying for
    * dedup.
    *
    * Shape: candidate (doc, shingle) pairs are per-doc DISTINCT
    * in-row (array_distinct before explode — no post-explode distinct
    * shuffle); the reference collapses to its distinct shingle set in
    * one combine agg; novelty is ONE left-anti equi-join + two
    * |docs|-key combine aggs. The anti-join probes can pre-prune
    * through a bloom filter of the reference set (X84's
    * bloomMightContain) when the reference is corpus-sized — exactness
    * then needs the confirm join only for bloom positives.
    *
    * Docs with fewer than n words have no shingles and drop by
    * contract. Output: (id, n_shingles, n_novel, novelty round6).
    */
  def noveltyRate(cand: DataFrame, ref: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    require(n > 0, s"n ($n) must be > 0")
    val cs = cand.select(col(idCol),
      explode(array_distinct(wordShingles(col(textCol), n))).as("sh"))
    val rs = ref.select(explode(wordShingles(col(textCol), n)).as("sh"))
      .distinct()
    val totals = cs.groupBy(col(idCol)).agg(count(lit(1)).as("n_shingles"))
    val novel = cs.join(rs, Seq("sh"), "left_anti")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_novel"))
    totals.join(novel, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round6(coalesce(col("n_novel"), lit(0L)).cast("double")
          / col("n_shingles").cast("double")).as("novelty"))
  }

  /** Per-term Jensen–Shannon divergence contributions between two
    * corpus snapshots' term distributions — the vocabulary-drift
    * monitor ("did this month's crawl change what the model will
    * read"). JSD = Σ_t ½p·ln(p/m) + ½q·ln(q/m) with m = (p+q)/2;
    * the table emits each term's contribution and counts, the reader
    * folds the scalar (the X142 rule — never sum doubles across
    * partitions engine-side).
    *
    * Exactness: p, q, m are doubles derived from exact integer counts
    * in one spelled operation order; each term's contribution is
    * pinned to integer NANO-units (contributions sit at the 1e-4…1e-7
    * scale — micro-pinning would zero the tail, nano keeps 3+ digits
    * on every term while ln's ≤1-ulp error stays 5 orders below the
    * pin). Terms absent from one side contribute only the other side's
    * ½·ln 2 term, spelled with explicit zero guards — the CASE arms
    * both engines share.
    *
    * Shape: two vocab-key combine count aggs, one full-outer equi-join
    * on term, totals broadcast as a 1-row frame; everything after the
    * counts is |vocab|-sized.
    */
  def vocabJsd(a: DataFrame, b: DataFrame, textCol: String): DataFrame = {
    val ca = a.select(explode(words(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c_a"))
    val cb = b.select(explode(words(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c_b"))
    val joined = ca.join(cb, Seq("term"), "full_outer")
      .select(col("term"), coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
    val tot = joined.agg(sum("c_a").as("_ta"), sum("c_b").as("_tb"))
    val p = col("c_a").cast("double") / col("_ta").cast("double")
    val q = col("c_b").cast("double") / col("_tb").cast("double")
    val m = (p + q) / 2.0
    val contrib =
      when(col("c_a") === 0, lit(0.0)).otherwise(lit(0.5) * p * log(p / m)) +
      when(col("c_b") === 0, lit(0.0)).otherwise(lit(0.5) * q * log(q / m))
    joined.crossJoin(broadcast(tot))
      .select(col("term"), col("c_a"), col("c_b"),
        floor(contrib * 1000000000.0 + 0.5).cast("long").as("jsd_nano"))
  }

  /** Bigram language-model cross-entropy per document — the classic
    * statistical quality/perplexity gate (low entropy ⇒ repetitive or
    * template text, high ⇒ rare constructions or noise) run with the
    * corpus itself as training data. Add-ONE smoothing keeps every
    * probability the exact rational (c₁₂+1)/(c₁+V) of three integer
    * counts, so both engines evaluate ln of the SAME rational.
    *
    * Cross-engine determinism for a SUM of logarithms: a float sum
    * across partitions orders its roundings nondeterministically, so
    * each bigram's −ln p is pinned to integer MICRO-nats first
    * (`floor(ln·1e6+0.5)` of a ≤1-ulp-accurate double — the round6
    * discipline applied per term), and only those integers are summed:
    * exact, order-free, and identical in DuckDB. The per-doc mean is
    * one double division at the |docs|-row tail.
    *
    * Shape: bigrams come from an in-row `zip_with` over the token
    * array (zero shuffle — the window-lag spelling would shuffle the
    * exploded corpus just to pair neighbors); bigram and unigram-start
    * counts are partial-combining aggs on skew-bounded keys; the two
    * model joins are equi-joins against those aggregates; V broadcasts
    * as the legitimate 1-row scalar (tfidf precedent). Docs with < 2
    * tokens have no bigrams and drop by contract.
    *
    * Output: (id, n_bigrams, avg_nll) — avg_nll in nats, round6.
    */
  def bigramCrossEntropy(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = df.select(col(idCol), words(col(textCol)).as("_w"))
    val bg = toks.select(col(idCol),
        explode(zip_with(
          slice(col("_w"), lit(1), greatest(size(col("_w")) - 1, lit(0))),
          slice(col("_w"), lit(2), greatest(size(col("_w")) - 1, lit(0))),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("_b"))
      .select(col(idCol), col("_b.w1").as("w1"), col("_b.w2").as("w2"))
    val big = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val uni = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = toks.select(explode(col("_w")).as("tok"))
      .agg(count_distinct(col("tok")).as("v"))
    bg.join(big, Seq("w1", "w2")).join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("_nll_mu",
        floor(-log((col("c12") + 1).cast("double")
          / (col("c1") + col("v")).cast("double")) * 1000000.0 + 0.5)
          .cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round6(sum(col("_nll_mu")).cast("double")
          / count(lit(1)).cast("double") / 1000000.0).as("avg_nll"))
  }

  /** Dunning log-likelihood keyness (X276; Dunning 1993) — "which
    * words DISTINGUISH the target slice from the rest of the corpus":
    * the corpus-linguistics standard that stays calibrated at the low
    * counts where chi-square and PMI both lie (Dunning's original
    * point). Per word, with a = target count, b = rest count,
    * nA/nB/N the totals,
    *   G² = 2·[a·ln(a·N/(nA·(a+b))) + b·ln(b·N/(nB·(a+b)))],
    * and a zero cell contributes zero (the O→0 limit of O·ln(O/E)).
    *
    * Determinism: every logarithm is taken on an INTEGER-valued
    * double — ln(a·N) and ln(nA·(a+b)) separately, each micro-floored
    * (the X272 ln-pair discipline) — then scaled by the integer
    * counts, so G²_micro is an exact integer sum and the top-k order
    * (g2 DESC, word ASC) is total. Direction (over- vs
    * under-represented) clears by the integer cross-multiplication
    * a·nB vs b·nA — no rate division.
    *
    * Scale: one tokenize pass to the (word × side) counts, scalars
    * broadcast, everything else on vocab-bounded metadata; the only
    * sort is the TakeOrdered top-k. Output: (word, n_target, n_rest,
    * g2_micro, overrepresented).
    */
  def dunningKeyness(df: DataFrame, textCol: String, target: Column,
      topK: Int = 20): DataFrame = {
    require(topK >= 1, s"topK ($topK) must be >= 1")
    val dec = (x: Column) => x.cast("decimal(38,0)")
    val toks = df.select(target.as("_t"), explode(words(col(textCol))).as("w"))
      .filter(col("w") =!= "")
    val counts = toks.groupBy("w").agg(
      sum(when(col("_t"), 1L).otherwise(0L)).as("a"),
      sum(when(col("_t"), 0L).otherwise(1L)).as("b"))
    val tot = counts.agg(sum("a").as("na"), sum("b").as("nb"))
    def lmu(x: Column): Column =
      floor(log(x.cast("double")) * 1000000.0).cast("long")
    counts.crossJoin(broadcast(tot))
      .withColumn("_n", col("na") + col("nb"))
      .withColumn("_ta", when(col("a") > 0,
        col("a") * (lmu(dec(col("a")) * dec(col("_n")))
          - lmu(dec(col("na")) * dec(col("a") + col("b")))))
        .otherwise(0L))
      .withColumn("_tb", when(col("b") > 0,
        col("b") * (lmu(dec(col("b")) * dec(col("_n")))
          - lmu(dec(col("nb")) * dec(col("a") + col("b")))))
        .otherwise(0L))
      .select(col("w").as("word"), col("a").as("n_target"),
        col("b").as("n_rest"),
        (lit(2L) * (col("_ta") + col("_tb"))).as("g2_micro"),
        (dec(col("a")) * dec(col("nb")) > dec(col("b")) * dec(col("na")))
          .as("overrepresented"))
      .orderBy(col("g2_micro").desc, col("word"))
      .limit(topK)
  }

  /** Kneser–Ney smoothed bigram LM cross-entropy (X272; Kneser & Ney
    * 1995, absolute discounting with continuation probabilities) —
    * the smoothing real LMs actually use, scored on an md5-HELD-OUT
    * split (the X83/X197 discipline: add-one's same-corpus score
    * (X169) never exercises the unseen-bigram path that smoothing
    * exists for). Continuation probability — "how many contexts does
    * w₂ complete" — is the KN insight add-one lacks: 'francisco' is
    * frequent but only ever follows 'san', so its unseen-context
    * probability should be tiny.
    *
    * Exact arithmetic: the discount is the RATIONAL 3/4, so with
    * pc(w₂) = (N1p(w₂)+1)/(B+V+1) (add-one over continuation types —
    * the +1 absorbs unseen words) every probability is a ratio of
    * exact integers on the common denominator 4·c₁·(B+V+1):
    *   seen:          num = (4c₁₂−3)(B+V+1) + 3·N1f(w₁)·(N1p(w₂)+1)
    *   unseen bigram: num = 3·N1f(w₁)·(N1p(w₂)+1)
    *   unseen w₁:     num = (N1p(w₂)+1)·4c₁… degenerates to pc —
    *                  num = N1p+1, den = B+V+1.
    * Per-context mass provably ≤ 1, so num < den and the NLL is
    * positive. −ln p = ⌊ln den·10⁶⌋ − ⌊ln num·10⁶⌋, each ln taken on
    * an integer-valued double (the micro-floored-ln discipline,
    * quantized per term BEFORE the per-doc sum — X169's order-free
    * rule). Products route through decimal(38,0) and reach ln as one
    * double cast both engines share.
    *
    * Scale: one bigram pass per half, combine-aggs to the bigram/
    * context/continuation tables, scalars broadcast; scoring is three
    * left equi-joins. Output per eval doc: (idCol, n_bigrams,
    * avg_nll).
    */
  def knCrossEntropy(df: DataFrame, idCol: String, textCol: String,
      evalMod: Int = 5, salt: String = "kn"): DataFrame = {
    require(evalMod >= 2, s"evalMod ($evalMod) must be >= 2")
    val dec = (x: Column) => x.cast("decimal(38,0)")
    val tagged = df.select(col(idCol), col(textCol),
      (conv(substring(md5(concat(lit(s"$salt|"),
        col(idCol).cast("string"))), 1, 4), 16, 10).cast("int")
        % evalMod === 0).as("_ev"))
    def bigrams(d: DataFrame) = d
      .select(col(idCol), words(col(textCol)).as("_w"))
      .select(col(idCol),
        explode(zip_with(
          slice(col("_w"), lit(1), greatest(size(col("_w")) - 1, lit(0))),
          slice(col("_w"), lit(2), greatest(size(col("_w")) - 1, lit(0))),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("_b"))
      .select(col(idCol), col("_b.w1").as("w1"), col("_b.w2").as("w2"))
    val trainBg = bigrams(tagged.filter(!col("_ev")))
    val big = trainBg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint(eager = true) // 4 consumers below
    val c1t = big.groupBy("w1").agg(sum("c12").as("c1"),
      count(lit(1)).as("n1f"))
    val n1pt = big.groupBy("w2").agg(count(lit(1)).as("n1p"))
    val scal = big.agg(count(lit(1)).as("b"))
      .crossJoin(tagged.filter(!col("_ev"))
        .select(explode(words(col(textCol))).as("t"))
        .agg(count_distinct(col("t")).as("v")))
    val ev = bigrams(tagged.filter(col("_ev")))
    val scored = ev
      .join(big, Seq("w1", "w2"), "left")
      .join(c1t, Seq("w1"), "left")
      .join(n1pt, Seq("w2"), "left")
      .crossJoin(broadcast(scal))
      .withColumn("_bv1", col("b") + col("v") + 1)
      .withColumn("_pc1", coalesce(col("n1p"), lit(0L)) + 1)
      .withColumn("_num",
        when(col("c1").isNull, dec(col("_pc1")))
          .when(col("c12").isNull,
            dec(lit(3L) * col("n1f")) * dec(col("_pc1")))
          .otherwise(dec(lit(4L) * col("c12") - 3) * dec(col("_bv1"))
            + dec(lit(3L) * col("n1f")) * dec(col("_pc1"))))
      .withColumn("_den",
        when(col("c1").isNull, dec(col("_bv1")))
          .otherwise(dec(lit(4L) * col("c1")) * dec(col("_bv1"))))
      .withColumn("_nll_mu",
        floor(log(col("_den").cast("double")) * 1000000.0).cast("long")
          - floor(log(col("_num").cast("double")) * 1000000.0)
            .cast("long"))
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round6(sum(col("_nll_mu")).cast("double")
          / count(lit(1)).cast("double") / 1000000.0).as("avg_nll"))
      .orderBy(idCol)
  }

  /** Positional phrase search: find every occurrence of each query
    * phrase (an exact consecutive word sequence) across the corpus —
    * the retrieval primitive [[invertedIndex]]'s doc-level postings
    * cannot answer (df tells you the words co-occur in a doc, not that
    * they are ADJACENT). Output: one row per (phrase, doc) with the
    * occurrence count and the first 0-based token position, ordered.
    *
    * Algorithm — the single-shuffle anchor trick, not a k-way postings
    * join: tokenize with positions, equi-join to the broadcast
    * (word → phrase, idx) table (this prunes the corpus to phrase-
    * vocabulary tokens BEFORE any shuffle — for realistic phrase
    * panels that's a tiny fraction of tokens, and the pushed filter
    * is the scale story), project each candidate token to its implied
    * phrase ANCHOR `pos − idx`, and group by (phrase, doc, anchor):
    * the phrase occurs at the anchor iff all `len` slots matched,
    * i.e. `count(DISTINCT idx) = len`. One shuffle, keyed by true
    * candidate positions. The alternative — len−1 self-joins of a
    * positional postings table on `pos_b = pos_a + 1` — costs len−1
    * shuffles of the same data and was rejected.
    *
    * Repeated words in a phrase ("table table") are handled by the
    * DISTINCT: a lone "table" at position p yields candidates at
    * anchors p and p−1, each with one distinct idx — never len. A
    * genuine repeat contributes every idx at the shared anchor.
    * Occurrences may overlap ("table table table" matches "table
    * table" at two anchors) — both are reported, matching the sliding-
    * window reading.
    */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty && phrases.forall(_.trim.nonEmpty),
      "phrase panel must be non-empty phrases")
    val spark = df.sparkSession
    import spark.implicits._
    val pt = broadcast(phrases.flatMap { p =>
      val ws = p.split(" ")
      ws.zipWithIndex.map { case (w, i) => (p, ws.length, i, w) }
    }.toDF("phrase", "len", "idx", "w"))
    val toks = df.select(col(idCol).as("doc"),
        posexplode(words(col(textCol))).as(Seq("pos", "w")))
    toks.join(pt, "w")
      .select(col("phrase"), col("len"), col("doc"),
        (col("pos") - col("idx")).as("anchor"), col("idx"))
      .where(col("anchor") >= 0)
      .groupBy("phrase", "len", "doc", "anchor")
      .agg(countDistinct("idx").as("_nidx"))
      .where(col("_nidx") === col("len"))
      .groupBy("phrase", "doc")
      .agg(count(lit(1)).as("n_occ"),
        min("anchor").cast("long").as("first_pos"))
  }

  /** Iterative proportional fitting (raking) of per-(source, lang)
    * sampling weights so the weighted token mass hits UNIFORM marginals
    * over sources AND over langs simultaneously — the classic survey-
    * statistics algorithm (Deming & Stephan 1940) applied to training-
    * data mixture design: "equal token share per source and per
    * language" is a joint constraint no single-pass reweighting
    * satisfies when the contingency table is unbalanced.
    *
    * Round r = one source step then one lang step; each step scales
    * every cell's weight by target/current for its marginal. All
    * arithmetic is INTEGER: weights live in micro-units, factors are
    * `(target_micro * 10^6) div W` with integer `div` end to end —
    * `floor(double)` is NOT usable here because the intermediates
    * (total_tokens × 10^12) exceed 2^53 at real scales; bigint integer
    * division is exact and identical in both engines. Magnitudes are
    * bounded by corpus_tokens × 10^12 — fine in int64 to ~10^6-token
    * corpora per the test SFs; a 100 TB run lifts the same expressions
    * to DECIMAL(38,0), the plan shape unchanged.
    *
    * Scale shape: ONE corpus pass builds the |S|×|L| cell table
    * (partial-combine agg); every subsequent step is a groupBy + join
    * over that TINY table — the iteration never touches the corpus
    * again, and applying the final weights downstream is a broadcast
    * join (the X89 mixture-application shape). The only collect is the
    * 1-row (total, nS, nL) scalar.
    *
    * Output, part-tagged (X190 convention), ordered:
    *  - part='cell': (source, lang, toks, w_micro, weighted_micro) —
    *    the shipped weight table after `rounds` rounds;
    *  - part='src' / part='lang': achieved marginal per source/lang
    *    (weighted_micro vs the uniform target — the convergence
    *    deliverable; lang resp. source is '').
    */
  def ipfRaking(df: DataFrame, srcCol: String, langCol: String,
      textCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds ($rounds) must be >= 1")
    val spark = df.sparkSession
    val cells = df
      .groupBy(col(srcCol).as("source"), col(langCol).as("lang"))
      .agg(sum(size(words(col(textCol)))).cast("long").as("toks"))
      .localCheckpoint(true)
    val Seq(tot, ns, nl) = {
      val r = cells.agg(sum("toks"), countDistinct("source"),
        countDistinct("lang")).head()
      Seq(r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val tgtS = (tot * 1000000L) / ns // micro-tokens, exact integer div
    val tgtL = (tot * 1000000L) / nl
    var w = cells.withColumn("w", lit(1000000L))
    def step(keyCol: String, tgt: Long): Unit = {
      val m = w.groupBy(keyCol)
        .agg(sum(expr("w * toks")).as("_W"))
      w = w.join(m, keyCol)
        .withColumn("w",
          expr(s"(w * ((${tgt}L * 1000000L) div _W)) div 1000000L"))
        .drop("_W")
        .localCheckpoint(true)
    }
    for (_ <- 1 to rounds) { step("source", tgtS); step("lang", tgtL) }
    val cell = w.select(lit("cell").as("part"), col("source"), col("lang"),
      col("toks"), col("w").as("w_micro"),
      expr("w * toks").as("weighted_micro"))
    val ms = w.groupBy("source")
      .agg(sum("toks").cast("long").as("toks"),
        sum(expr("w * toks")).as("weighted_micro"))
      .select(lit("src").as("part"), col("source"), lit("").as("lang"),
        col("toks"), lit(null).cast("long").as("w_micro"),
        col("weighted_micro"))
    val ml = w.groupBy("lang")
      .agg(sum("toks").cast("long").as("toks"),
        sum(expr("w * toks")).as("weighted_micro"))
      .select(lit("lang").as("part"), lit("").as("source"), col("lang"),
        col("toks"), lit(null).cast("long").as("w_micro"),
        col("weighted_micro"))
    cell.unionByName(ms).unionByName(ml)
      .orderBy("part", "source", "lang")
  }

  /** Platt-style score calibration + reliability diagram / ECE — the
    * post-training step every production quality classifier runs: raw
    * margin scores are NOT probabilities, and downstream mixture
    * planners that threshold on "p(keep) > 0.9" need them to be.
    * Fits p = hσ(a·z + b) over (score z, teacher label y) by `rounds`
    * rounds of full-batch gradient descent on squared loss — the same
    * integer hard-sigmoid link as [[trainLinearClassifier]] (exp is
    * not bit-stable cross-engine), so the whole fit is exact integer /
    * guarded-floor arithmetic, bit-identical in both engines.
    *
    * Input `scored`: (doc, z, y) with z an integer MILLI-unit score
    * and y ∈ {0,1}. Round r: t = floor(a·z/10⁶) + b (a micro-scale
    * slope, b milli intercept); p = clamp((t+2000)·250, 0, 10⁶);
    * e = p − y·10⁶; gradients masked to the hard-sigmoid linear
    * region (σ' = 0 outside — exactly, not approximately):
    * g_a = Σ e·z·1[|t|≤2000], g_b = Σ e·1[|t|≤2000]. Updates are
    * damped-Newton-scaled floor divisions with per-round clips
    * (lrDivB = 250 = the link slope makes the b-step the exact Newton
    * step for the intercept). Magnitudes stay ≪ 2^53 so
    * floor(double-division) is bit-stable — the X193 argument.
    *
    * Scale shape: the scored table is checkpointed once; each round is
    * ONE partial-combine aggregation returning 3 scalars to the
    * driver (a, b are model-sized driver state, the allowed class);
    * the reliability bins are one more groupBy over ≤ `bins` keys.
    *
    * Output (part, k, sym, n), ordered:
    *  - part='round': k=r, n=Σ|e| — the training curve;
    *  - part='param': sym='a'|'b', n = fitted value;
    *  - part='bin': k = calibrated-confidence decile, sym =
    *    'n'|'conf'|'pos' — the reliability diagram (count, Σp_micro,
    *    positives) per bin;
    *  - part='ece': sym='before'|'after', n = expected calibration
    *    error in micro-units (Σ_bins |Σp − 10⁶·pos| div N), binned by
    *    the respective probability.
    */
  def calibrateScores(scored: DataFrame, rounds: Int, lrDivA: Long,
      lrDivB: Long, clipA: Long, clipB: Long, bins: Int = 10): DataFrame = {
    require(rounds >= 1 && lrDivA > 0 && lrDivB > 0 && clipA > 0 &&
      clipB > 0 && bins >= 2, "bad calibration hyperparameters")
    val spark = scored.sparkSession
    import spark.implicits._
    val sc = scored.select(col("doc"), col("z").cast("long").as("z"),
      col("y").cast("long").as("y")).localCheckpoint(true)
    val n = sc.count()
    require(n > 0, "empty score table")
    def withP(a: Long, b: Long): DataFrame = sc
      .withColumn("t",
        floor((lit(a) * col("z")).cast("double") / 1000000.0).cast("long")
          + lit(b))
      .withColumn("p", least(lit(1000000L),
        greatest(lit(0L), (col("t") + 2000L) * 250L)))
      .withColumn("e", col("p") - col("y") * 1000000L)
      .withColumn("in", when(abs(col("t")) <= 2000L, 1L).otherwise(0L))
    var a = 1000000L
    var b = 0L
    val curve = Seq.newBuilder[(Long, Long)]
    def clamp(v: Long, c: Long): Long = math.max(-c, math.min(c, v))
    for (r <- 1 to rounds) {
      val row = withP(a, b).agg(
        sum(abs(col("e"))), sum(col("e") * col("z") * col("in")),
        sum(col("e") * col("in"))).head()
      val (lossSum, ga, gb) =
        (row.getLong(0), row.getLong(1), row.getLong(2))
      curve += ((r.toLong, lossSum))
      a -= clamp(math.floor(ga.toDouble / (n.toDouble * lrDivA)).toLong, clipA)
      b -= clamp(math.floor(gb.toDouble / (n.toDouble * lrDivB)).toLong, clipB)
    }
    def eceBins(df: DataFrame): DataFrame = df
      .withColumn("bin", least(expr("p div 100000"), lit(bins - 1L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("nb"), sum("p").as("conf"), sum("y").as("pos"))
    val binsAfter = eceBins(withP(a, b)).localCheckpoint(true)
    val eceOf = (bdf: DataFrame) => bdf
      .agg(floor(sum(abs(col("conf") - col("pos") * 1000000L)).cast("double")
        / n.toDouble).cast("long")).as[Long].head()
    val eceBefore = eceOf(eceBins(withP(1000000L, 0L)))
    val eceAfter = eceOf(binsAfter)
    val roundRows = spark.createDataset(curve.result()).toDF("k", "n")
      .select(lit("round").as("part"), col("k"), lit("").as("sym"), col("n"))
    val paramRows = Seq(("a", a), ("b", b)).toDF("sym", "n")
      .select(lit("param").as("part"), lit(null).cast("long").as("k"),
        col("sym"), col("n"))
    val binRows = binsAfter.select(col("bin"),
        map(lit("n"), col("nb"), lit("conf"), col("conf"),
          lit("pos"), col("pos")).as("m"))
      .select(col("bin"), explode(col("m")).as(Seq("sym", "n")))
      .select(lit("bin").as("part"), col("bin").as("k"), col("sym"), col("n"))
    val eceRows = Seq(("before", eceBefore), ("after", eceAfter))
      .toDF("sym", "n")
      .select(lit("ece").as("part"), lit(null).cast("long").as("k"),
        col("sym"), col("n"))
    val out = roundRows.unionByName(paramRows).unionByName(binRows)
      .unionByName(eceRows).orderBy("part", "k", "sym")
      .localCheckpoint(true)
    graft.operators.SuffixArray.freeCheckpoint(sc)
    graft.operators.SuffixArray.freeCheckpoint(binsAfter)
    out
  }

  /** Data scaling-law estimation: how fast does held-out loss fall as
    * the training corpus grows? The experiment every data-curation
    * decision ultimately answers to (Kaplan et al. 2020 / Hestness et
    * al. 2017 measure exactly this curve): train the same model on
    * NESTED subsets at 1/8, 1/4, 1/2, 1× of the pool, evaluate each on
    * one fixed held-out set, and fit log-loss vs log-tokens by ordinary
    * least squares — the slope is the data-scaling exponent.
    *
    * The "model" is the hashed-unigram LM the suite already trains for
    * quality filtering (the X61 CCNet shape, add-one smoothing over
    * `buckets` hash buckets) — cheap enough to train 4× in one pass:
    *  - subsets are NESTED BY CONSTRUCTION: each train doc gets a level
    *    `md5(lvlSalt|id) % 8` and subset k keeps levels < k, so the 4
    *    models come from ONE (level, bucket) count table cumulated 4
    *    ways — the corpus is tokenized ONCE, and membership is a pure
    *    function of (salt, id), reproducible across engines and runs;
    *  - the held-out set (`md5(hoSalt|id) % 8 == 0`, ~12.5%) is
    *    disjoint from every subset — the same split discipline as the
    *    X83 LM gate;
    *  - ln runs only on the (4 × buckets)-row smoothed model table,
    *    quantized to integer micro-nats `floor(ln·10⁶ + 0.5)` BEFORE
    *    any cross-row sum (the X61 float-summation-order-proof);
    *  - per-size loss = one partial-combine agg over held-out tokens
    *    fanned out ×4 by the model join; OLS over the 4 (x, y) pairs is
    *    a single aggregation — the integer moment sums are exact, and
    *    the final slope/intercept divisions are fixed-order IEEE double
    *    expressions (inputs < 2^53), identical in both engines.
    *
    * Output (part, k, sym, n), ordered:
    *  - part='size': k = subset index 1..4, sym = 'train_tokens' |
    *    'xent_micro' (held-out cross-entropy, micro-nats/token);
    *  - part='fit': sym = 'slope_micro' | 'intercept_micro' |
    *    'n_heldout_tokens'. slope_micro ≈ −β·10⁶ for L ∝ N^(−β).
    */
  def scalingLawFit(df: DataFrame, idCol: String, textCol: String,
      buckets: Int, lvlSalt: String, hoSalt: String): DataFrame = {
    require(buckets > 0, s"buckets ($buckets) must be > 0")
    val spark = df.sparkSession
    import spark.implicits._
    val levels = Seq(1, 2, 4, 8)
    def h(salt: String): Column =
      conv(substring(md5(concat(lit(s"$salt|"),
        col(idCol).cast("string"))), 1, 4), 16, 10).cast("int") % 8
    val toks = df
      .withColumn("_ho", h(hoSalt) === 0)
      .withColumn("_lvl", h(lvlSalt))
      .select(col("_ho"), col("_lvl"),
        explode(words(col(textCol))).as("w"))
      .withColumn("b",
        conv(substring(md5(concat(lit("slm|"), col("w"))), 1, 4), 16, 10)
          .cast("int") % buckets)
      .localCheckpoint(true)
    val lvlCounts = toks.where(!col("_ho"))
      .groupBy("_lvl", "b").agg(count(lit(1)).as("c"))
    val lvlTable = broadcast(levels.zipWithIndex
      .map { case (k, i) => (i + 1, k) }.toDF("i", "k"))
    // cumulate: model i = counts over levels < k_i, on the full
    // (i × buckets) grid so zero-count buckets get the add-one smoothing
    val grid = broadcast(lvlTable.as("l"))
      .crossJoin(spark.range(buckets).select(col("id").cast("int").as("b")))
    val modelCounts = grid
      .join(lvlCounts.crossJoin(broadcast(lvlTable))
          .where(col("_lvl") < col("k"))
          .groupBy("i", "b").agg(sum("c").as("c")),
        Seq("i", "b"), "left")
      .select(col("i"), col("b"), coalesce(col("c"), lit(0L)).as("c"))
    val sizes = modelCounts.groupBy("i").agg(sum("c").as("n_train"))
    val nll = modelCounts.join(sizes, "i")
      .select(col("i"), col("b"),
        floor(-log((col("c") + 1).cast("double")
            / (col("n_train") + buckets).cast("double")) * 1000000.0 + 0.5)
          .cast("long").as("nll_mu"))
    val ho = toks.where(col("_ho")).select("b")
    val perSize = ho.join(broadcast(nll), "b")
      .groupBy("i").agg(sum("nll_mu").as("_s"), count(lit(1)).as("_n"))
      .join(sizes, "i")
      .select(col("i"), col("n_train"),
        floor(col("_s").cast("double") / col("_n")).cast("long")
          .as("xent_micro"),
        col("_n").as("n_ho"))
      .localCheckpoint(true)
    // log-log OLS over the 4 points, moments exact in int64, final
    // divisions fixed-order IEEE double (inputs < 2^53 by construction)
    val pts = perSize.select(col("i"),
      floor(log(col("n_train").cast("double")) * 1000000.0 + 0.5)
        .cast("long").as("x"),
      floor(log(col("xent_micro").cast("double")) * 1000000.0 + 0.5)
        .cast("long").as("y"))
    val fit = pts.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum("y").as("sy"), sum(expr("x * y")).as("sxy"),
        sum(expr("x * x")).as("sxx"))
      .select(
        floor((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            * 1000000.0
            / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
          + 0.5).cast("long").as("slope_micro"),
        col("n"), col("sx"), col("sy"))
      .select(col("slope_micro"),
        floor((col("sy").cast("double")
            - col("slope_micro").cast("double") / 1000000.0
              * col("sx").cast("double"))
            / col("n").cast("double") + 0.5).cast("long")
          .as("intercept_micro"))
    val sizeRows = perSize.select(col("i").cast("long").as("k"),
        map(lit("train_tokens"), col("n_train"),
          lit("xent_micro"), col("xent_micro")).as("m"))
      .select(lit("size").as("part"), col("k"),
        explode(col("m")).as(Seq("sym", "n")))
      .select("part", "k", "sym", "n")
    val nHo = perSize.agg(max("n_ho")).as[Long].head()
    val fitRows = fit.select(
        map(lit("slope_micro"), col("slope_micro"),
          lit("intercept_micro"), col("intercept_micro"),
          lit("n_heldout_tokens"), lit(nHo)).as("m"))
      .select(lit("fit").as("part"), lit(null).cast("long").as("k"),
        explode(col("m")).as(Seq("sym", "n")))
      .select("part", "k", "sym", "n")
    val out = sizeRows.unionByName(fitRows).orderBy("part", "k", "sym")
      .localCheckpoint(true)
    graft.operators.SuffixArray.freeCheckpoint(toks)
    graft.operators.SuffixArray.freeCheckpoint(perSize)
    out
  }

  /** Group-aware k-fold cross-validation of the hashed-unigram LM —
    * the variance-estimation companion to the X187 leakage-safe split:
    * every doc's fold keys on its near-dup GROUP representative
    * (`repCol`), so paraphrases can never sit in both a training
    * complement and its evaluation fold, and the per-fold spread of
    * held-out cross-entropy is an honest stability estimate.
    *
    * The k leave-one-fold-out models cost ONE corpus pass via the
    * complement trick: tokenize once into a (fold, bucket) count
    * table, then model_f = column_total − counts_f — training "all
    * but fold f" is a subtraction on the (k × buckets)-row table, not
    * k corpus passes. Evaluation joins each fold's tokens to ITS OWN
    * complement model on (fold, bucket) — an equi-join, no fan-out.
    * ln only touches the small model table, micro-nat-quantized
    * before any cross-row sum (X61 discipline). The per-fold xent
    * vector (k rows, model-sized) comes to the driver for the exact
    * integer mean/variance; everything corpus-sized stays distributed.
    *
    * Output (part, k, sym, n), ordered:
    *  - part='fold': k = fold 0..k−1, sym = 'n_docs' | 'n_tokens' |
    *    'xent_micro';
    *  - part='cv': sym = 'n_groups' | 'mean_micro' | 'var_micro2'
    *    (variance around the FLOORED mean, in micro-nats² — exact
    *    integer, replicated identically in the oracle).
    */
  def cvFoldsLm(df: DataFrame, idCol: String, textCol: String,
      repCol: String, k: Int, buckets: Int, foldSalt: String): DataFrame = {
    require(k >= 2 && buckets > 0, s"bad cv config: k=$k buckets=$buckets")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).as("doc"), col(textCol).as("_txt"),
        col(repCol).as("rep"),
        (conv(substring(md5(concat(lit(s"$foldSalt|"),
          col(repCol).cast("string"))), 1, 4), 16, 10).cast("int") % k)
          .as("fold"))
      .localCheckpoint(true)
    val toks = base
      .select(col("fold"), explode(words(col("_txt"))).as("w"))
      .withColumn("b",
        conv(substring(md5(concat(lit("slm|"), col("w"))), 1, 4), 16, 10)
          .cast("int") % buckets)
      .localCheckpoint(true)
    val grid = spark.range(k).select(col("id").cast("int").as("fold"))
      .crossJoin(spark.range(buckets).select(col("id").cast("int").as("b")))
    val fb = grid
      .join(toks.groupBy("fold", "b").agg(count(lit(1)).as("c")),
        Seq("fold", "b"), "left")
      .select(col("fold"), col("b"), coalesce(col("c"), lit(0L)).as("c"))
    val totB = fb.groupBy("b").agg(sum("c").as("tc"))
    val nFold = fb.groupBy("fold").agg(sum("c").as("nf"))
    val tot = fb.agg(sum("c").as("tt"))
    val nll = fb.join(totB, "b").join(nFold, "fold")
      .crossJoin(broadcast(tot))
      .select(col("fold"), col("b"),
        floor(-log((col("tc") - col("c") + 1).cast("double")
            / (col("tt") - col("nf") + buckets).cast("double"))
          * 1000000.0 + 0.5).cast("long").as("nll_mu"))
    val perFold = toks.join(broadcast(nll), Seq("fold", "b"))
      .groupBy("fold")
      .agg(count(lit(1)).as("n_tokens"), sum("nll_mu").as("_s"))
      .select(col("fold"), col("n_tokens"),
        floor(col("_s").cast("double") / col("n_tokens")).cast("long")
          .as("xent_micro"))
      .join(base.groupBy("fold").agg(count(lit(1)).as("n_docs")), "fold")
      .localCheckpoint(true)
    val xs = perFold.select("xent_micro").as[Long].collect().sorted
    require(xs.length == k, s"expected $k folds with tokens, got ${xs.length}")
    val mean = math.floor(xs.sum.toDouble / k).toLong
    val varl = math.floor(xs.map(x => (x - mean) * (x - mean)).sum.toDouble
      / k).toLong
    val nGroups = base.agg(countDistinct("rep")).as[Long].head()
    val foldRows = perFold.select(col("fold").cast("long").as("k"),
        map(lit("n_docs"), col("n_docs"), lit("n_tokens"), col("n_tokens"),
          lit("xent_micro"), col("xent_micro")).as("m"))
      .select(lit("fold").as("part"), col("k"),
        explode(col("m")).as(Seq("sym", "n")))
      .select("part", "k", "sym", "n")
    val cvRows = Seq(("n_groups", nGroups), ("mean_micro", mean),
        ("var_micro2", varl)).toDF("sym", "n")
      .select(lit("cv").as("part"), lit(null).cast("long").as("k"),
        col("sym"), col("n"))
    val out = foldRows.unionByName(cvRows).orderBy("part", "k", "sym")
      .localCheckpoint(true)
    graft.operators.SuffixArray.freeCheckpoint(base)
    graft.operators.SuffixArray.freeCheckpoint(toks)
    graft.operators.SuffixArray.freeCheckpoint(perFold)
    out
  }

  def maxRun(tokens: Column): Column = {
    val st = aggregate(
      tokens,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best"),
        lit("").as("btok")),
      (acc, t) => {
        val run = when(t === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(t.as("prev"), run.as("run"),
          when(run > acc.getField("best"), run)
            .otherwise(acc.getField("best")).as("best"),
          when(run > acc.getField("best"), t)
            .otherwise(acc.getField("btok")).as("btok"))
      })
    struct(size(tokens).cast("long").as("n_tokens"),
      st.getField("best").as("max_run"),
      st.getField("btok").as("run_token"))
  }

  /** Content-defined chunking (CDC) dedup audit — the rsync/LBFS/restic
    * chunk-store idea applied at word granularity: a chunk boundary falls
    * AFTER word w iff md5(w) mod `avgChunk` == 0, so boundaries are a
    * pure function of LOCAL content. That buys the property fixed-size
    * or fixed-shingle chunking lacks: inserting or deleting words in one
    * place re-chunks only the containing chunk — every chunk after the
    * edit re-aligns (boundaries downstream are decided by the same
    * words), so shared regions between near-identical documents
    * deduplicate at chunk granularity no matter how far they shifted.
    * Repeated boilerplate blocks yield identical INTERIOR chunks in
    * every carrier (the prefix/suffix chunks merge with surrounding text
    * — exactly CDC's documented boundary behavior).
    *
    * Report (per source + a global `__ALL__` row — chunks dedup ACROSS
    * sources, the content-addressed-store framing): chunk count,
    * distinct-chunk count, total vs distinct-store words, the implied
    * savings ratio, and the achieved average chunk size (audits that the
    * boundary density matches the 1/avgChunk design point).
    *
    * Scale shape: one tokenize, chunk assembly is a window + groupBy
    * both keyed by doc (one shuffle, no skew — docs are near-uniform);
    * the distinct-store rollup shuffles the CHUNK-HASH table (corpus
    * words / avgChunk rows), with map-side combine. No pairwise
    * comparisons anywhere — dedup is pure hash aggregation.
    */
  def cdcChunkStats(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, avgChunk: Int = 4): DataFrame = {
    require(avgChunk >= 2, s"avgChunk ($avgChunk) must be >= 2")
    val toks = df.select(col(idCol).as("doc"), col(sourceCol).as("source"),
      posexplode(words(col(textCol))).as(Seq("pos", "w")))
    val bdy = toks.withColumn("bdy",
      when(expr("cast(conv(substring(md5(concat('cdc|', w)), 1, 15), 16, 10) as bigint)")
        % avgChunk === 0, 1L).otherwise(0L))
    val chunkNo = bdy.withColumn("chunk_no",
      coalesce(sum("bdy").over(Window.partitionBy("doc").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val chunks = chunkNo.groupBy("doc", "source", "chunk_no")
      .agg(md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("w")))),
          t => t.getField("w")), " ")).as("chash"),
        count(lit(1)).as("n_words"))
      .select("source", "chash", "n_words")
      .localCheckpoint(true)
    def totals(g: DataFrame, key: Seq[String]) =
      g.groupBy(key.map(col): _*)
        .agg(count(lit(1)).as("n_chunks"), sum("n_words").as("total_words"))
    def store(g: DataFrame, key: Seq[String]) =
      g.groupBy((key :+ "chash").map(col): _*)
        .agg(min("n_words").as("cw"))
        .groupBy(key.map(col): _*)
        .agg(count(lit(1)).as("n_distinct"), sum("cw").as("distinct_words"))
    val perSrc = totals(chunks, Seq("source")).join(store(chunks, Seq("source")), "source")
    val global = totals(chunks, Seq.empty).crossJoin(store(chunks, Seq.empty))
      .select(lit("__ALL__").as("source"), col("n_chunks"), col("total_words"),
        col("n_distinct"), col("distinct_words"))
    perSrc.unionByName(global)
      .select(col("source"), col("n_chunks"), col("n_distinct"),
        col("total_words"), col("distinct_words"),
        round6(lit(1.0) - col("distinct_words").cast("double")
          / col("total_words").cast("double")).as("savings_ratio"),
        round6(col("total_words").cast("double")
          / col("n_chunks").cast("double")).as("avg_chunk_words"))
      .orderBy("source")
  }

  /** Zipf rank–frequency fit (Zipf 1949) — the rank-domain companion
    * to [[vocabGrowth]]'s Heaps fit: Heaps asks "how fast does NEW
    * vocabulary arrive", Zipf asks "how is frequency MASS distributed
    * over the vocabulary you have" (ln c ≈ ln k − s·ln rank; natural
    * text has s ≈ 1, and a flat synthetic soup shows s near 0 — the
    * honest diagnostic either way).
    *
    * ONE tokenize pass reduces the corpus to the (word, count) vocab
    * table; ranking (count DESC, word — a total order, deterministic
    * under ties) and the OLS run on that vocab-sized table only. The
    * X197/X228 cross-engine discipline: ln touches only the vocab
    * rows and is floored to integer micro-nats BEFORE the moment sums,
    * which are exact int64; slope/intercept are the only divisions.
    *
    * Output (part, k, sym, n): per-rank rows (part='rank', k=rank,
    * sym=word, n=count) plus part='fit' rows s_micro (the NEGATED
    * slope, so Zipfian ⇒ positive) and logk_micro.
    */
  def zipfFit(df: DataFrame, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val wc = df.select(explode(words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val byFreq = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("w"))
    val ranked = wc.withColumn("rank", row_number().over(byFreq))
      .localCheckpoint(eager = true)
    val fit = ranked.select(
        floor(log(col("rank").cast("double")) * 1000000.0 + 0.5)
          .cast("long").as("x"),
        floor(log(col("c").cast("double")) * 1000000.0 + 0.5)
          .cast("long").as("y"))
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
      .select(
        floor((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            * 1000000.0
            / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
          + 0.5).cast("long").as("beta_micro"),
        col("n"), col("sx"), col("sy"))
      .select(col("beta_micro"),
        floor((col("sy").cast("double")
            - col("beta_micro").cast("double") / 1000000.0
              * col("sx").cast("double"))
            / col("n").cast("double") + 0.5).cast("long").as("logk_micro"))
    val rankRows = ranked.select(lit("rank").as("part"),
      col("rank").cast("long").as("k"), col("w").as("sym"),
      col("c").cast("long").as("n"))
    val fitRows = fit.select(
        map(lit("s_micro"), -col("beta_micro"),
          lit("logk_micro"), col("logk_micro")).as("m"))
      .select(lit("fit").as("part"), lit(null).cast("long").as("k"),
        explode(col("m")).as(Seq("sym", "n")))
    rankRows.unionByName(fitRows).orderBy("part", "k", "sym")
  }

  /** Per-word corpus dispersion DP (Gries 2008, "Dispersions and
    * adjusted frequencies in corpora") — the burstiness audit raw
    * frequency hides: a word with f = 1000 spread evenly over every
    * source behaves differently from one with f = 1000 dumped in a
    * single crawl snapshot (boilerplate, spam bursts), and frequency
    * alone cannot tell them apart. DP(w) = ½·Σ_parts |v_i/f − s_i|
    * over the source partition: 0 = perfectly proportional to source
    * sizes, →1 = concentrated in one part.
    *
    * ONE tokenize pass reduces the corpus to (source, word, count)
    * cells; the |vocab|×|sources| completion (absent cells count as
    * v_i = 0 — omitting them understates DP) and the fold run on that
    * table. Shares and ratios are ppm integers via `div`, so both
    * engines fold identically; ½ folds into the final div 2.
    *
    * Output: (word, f, dp_ppm) for every vocab word.
    */
  def dispersionDp(df: DataFrame, sourceCol: String, textCol: String)
      : DataFrame = {
    val sw = df.select(col(sourceCol).as("s"),
        explode(words(col(textCol))).as("w"))
      .groupBy("s", "w").agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = true)
    val srcTot = sw.groupBy("s").agg(sum("c").as("ns"))
    val n = srcTot.agg(sum("ns").as("n"))
    val srcShare = srcTot.crossJoin(broadcast(n))
      .select(col("s"), expr("(ns * 1000000) div n").as("s_ppm"))
    val wordTot = sw.groupBy("w").agg(sum("c").as("f"))
    // complete the vocab × sources grid: a word ABSENT from a source
    // still contributes |0 − s_i| to its DP
    wordTot.crossJoin(broadcast(srcShare))
      .join(sw, Seq("w", "s"), "left")
      .select(col("w"), col("f"),
        abs(expr("(coalesce(c, CAST(0 AS BIGINT)) * 1000000) div f")
          - col("s_ppm")).as("_d"))
      .groupBy("w", "f").agg(expr("sum(_d) div 2").as("dp_ppm"))
      .select(col("w").as("word"), col("f"), col("dp_ppm"))
      .orderBy(col("dp_ppm").desc, col("word"))
  }

  /** Per-source entropy rate (conditional bigram entropy
    * H(X₂|X₁) = H₂ − H₁, Shannon 1951's printed-English estimate) —
    * the predictability readout unigram entropy alone overstates:
    * H₁ says how diverse the VOCABULARY is, the rate says how
    * predictable the NEXT token is given the current one; the gap
    * H₁ − rate is exactly the mutual information adjacent tokens
    * share, i.e. how much local structure a model can exploit. Low
    * rate at high H₁ = rich vocabulary in rigid patterns
    * (boilerplate, templated text) — content a dedup pass should
    * look at harder.
    *
    * One tokenize pass; bigrams ride a per-doc lead window (adjacency
    * never crosses documents); both entropies are exact-integer
    * micro-nat folds over the (source × gram) count tables — ln
    * floored per row (the X83 discipline), H = (−Σ c·ln(c/N)) div N.
    *
    * Output per source: (source, n_tokens, n_bigrams, h1_micro,
    * h2_micro, rate_micro).
    */
  def entropyRate(df: DataFrame, idCol: String, sourceCol: String,
      textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val toks = df.select(col(sourceCol).as("s"), col(idCol).as("d"),
        posexplode(words(col(textCol))).as(Seq("p", "w")))
      .localCheckpoint(eager = true)
    def ent(grams: DataFrame): DataFrame = {
      val cnt = grams.groupBy("s", "g").agg(count(lit(1)).as("c"))
      val tot = cnt.groupBy("s").agg(sum("c").as("n"))
      cnt.join(tot, "s")
        .select(col("s"), col("n"),
          (col("c") * floor(log(col("c") / col("n").cast("double"))
            * 1000000.0 + 0.5).cast("long")).as("_t"))
        .groupBy("s", "n").agg(expr("(-sum(_t)) div n").as("h"))
    }
    val h1 = ent(toks.select(col("s"), col("w").as("g")))
    val byDoc = w.partitionBy("d").orderBy("p")
    val h2 = ent(toks
      .withColumn("_nx", lead(col("w"), 1).over(byDoc))
      .filter(col("_nx").isNotNull)
      .select(col("s"), concat_ws(" ", col("w"), col("_nx")).as("g")))
    h1.select(col("s").as("source"), col("n").as("n_tokens"),
        col("h").as("h1_micro"))
      .join(h2.select(col("s").as("source"), col("n").as("n_bigrams"),
        col("h").as("h2_micro")), "source")
      .select(col("source"), col("n_tokens"), col("n_bigrams"),
        col("h1_micro"), col("h2_micro"),
        (col("h2_micro") - col("h1_micro")).as("rate_micro"))
      .orderBy("source")
  }

  /** Weighted MinHash near-duplicate detection (Broder 1997 banding
    * over the integer-weight virtual-element expansion of Haveliwala/
    * Gionis; exact weighted Jaccard as the verify stage) — the
    * tf-AWARE variant of the X3 set-MinHash: set semantics let 40
    * copies of one boilerplate word count the same as one copy, so
    * two docs sharing only boilerplate look as similar as two sharing
    * content. Weighted Jaccard J_w = Σ_w min(tf_a, tf_b) /
    * Σ_w max(tf_a, tf_b) weighs repetition honestly; capping tf at
    * `cap` bounds the expansion (and the caps ARE the universe the
    * estimate targets — exact and estimate agree on it by
    * construction).
    *
    * Shape (the X3/X46 candidate-bounding discipline): each doc
    * expands to ≤ cap·|vocab_doc| virtual elements (w, 1..min(tf,cap)),
    * hashed once; the per-doc signature is the k smallest distinct
    * hashes via ONE [[graft.functions.BottomKDistinctLong]]
    * aggregation; candidates come from BAND equality (k/bandRows
    * bands, all bandRows minima equal — never from sharing a single
    * min, which on a small vocabulary degenerates to all-pairs); the
    * k-mins estimate and the exact J_w run on banded candidates only.
    * Every stage is an equi-join keyed by true collisions.
    *
    * Output per candidate pair: (doc_a, doc_b, est_ppm, jw_ppm) —
    * est from |both ∩ k-smallest-of-union| / k, exact from the capped
    * tf vectors; thresholding is caller policy.
    */
  def weightedMinhashPairs(df: DataFrame, idCol: String, textCol: String,
      cap: Int, k: Int, bandRows: Int, salt: String): DataFrame = {
    require(cap >= 1 && k >= 1 && bandRows >= 1 && k % bandRows == 0,
      s"bad config: cap=$cap k=$k bandRows=$bandRows")
    val nBands = k / bandRows
    val tf = df.select(col(idCol).as("doc"),
        explode(words(col(textCol))).as("w"))
      .groupBy("doc", "w").agg(least(count(lit(1)), lit(cap.toLong)).as("tf"))
      .localCheckpoint(eager = true)
    val sig = tf.select(col("doc"), col("w"),
        explode(sequence(lit(1L), col("tf"))).as("_i"))
      .select(col("doc"),
        expr(s"cast(conv(substring(md5(concat('$salt|', w, '|', " +
          s"cast(_i as string))), 1, 15), 16, 10) as bigint)").as("h"))
      .groupBy("doc")
      .agg(expr(s"bottomk_distinct_long(h, $k)").as("sig"))
      .filter(size(col("sig")) === k) // tiny docs can't band reliably
      .localCheckpoint(eager = true)
    val bands = sig.select(col("doc"), col("sig"),
        posexplode(array((0 until nBands).map { b =>
          md5(concat_ws(",", lit(b.toString),
            expr(s"transform(slice(sig, ${b * bandRows + 1}, $bandRows), " +
              "x -> cast(x as string))")))
        }: _*)).as(Seq("band", "key")))
    val cand = bucketPairs(bands, Seq("band", "key"))
    val est = cand
      .join(sig.select(col("doc").as("doc_a"), col("sig").as("_sa")), "doc_a")
      .join(sig.select(col("doc").as("doc_b"), col("sig").as("_sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr(s"size(filter(slice(array_sort(array_union(_sa, _sb)), 1, $k), " +
          s"x -> array_contains(_sa, x) AND array_contains(_sb, x))) " +
          s"* 1000000 div $k").as("est_ppm"))
    val tot = tf.groupBy("doc").agg(sum("tf").as("t"))
    val minSum = cand
      .join(tf.select(col("doc").as("doc_a"), col("w"), col("tf").as("_ta")),
        "doc_a")
      .join(tf.select(col("doc").as("doc_b"), col("w"), col("tf").as("_tb")),
        Seq("doc_b", "w"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(least(col("_ta"), col("_tb"))).as("_smin"))
    est.join(minSum, Seq("doc_a", "doc_b"), "left")
      .join(tot.select(col("doc").as("doc_a"), col("t").as("_tta")), "doc_a")
      .join(tot.select(col("doc").as("doc_b"), col("t").as("_ttb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("est_ppm"),
        expr("coalesce(_smin, CAST(0 AS BIGINT)) * 1000000 div " +
          "(_tta + _ttb - coalesce(_smin, CAST(0 AS BIGINT)))").as("jw_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  /** Leave-one-source-out data valuation (the ablation study behind
    * "which source is worth buying more of"; the complement-trick
    * economics of [[cvFoldsLm]] applied across the SOURCE axis): train
    * a bucketed add-one unigram LM on the train split, score a FIXED
    * held-out split under the full model AND under each
    * leave-one-source-out complement, and read each source's value as
    * Δxent = xent₋ₛ − xent_full — positive means removing the source
    * HURTS the model (the source carries signal the rest doesn't);
    * ≈0 means redundant; negative means it actively pollutes.
    *
    * Cost is the X198 argument: the k = |sources| ablated models are
    * NOT k training passes — model₋ₛ(b) = total(b) − countsₛ(b) on the
    * (source × bucket) cell table, so ONE corpus tokenize pass serves
    * every scenario, and evaluation is an equi-join of the held-out
    * bucket histogram against the (scenario × bucket) model grid
    * (model-sized: (|sources|+1)·buckets rows). Same held-out set for
    * every scenario — differences are attributable to the ablation
    * alone. All integer micro-nats (ln floored per cell before any
    * sum, the X83 discipline).
    *
    * Output per scenario (`__FULL__` + one per source):
    * (scenario, n_train_tokens, n_removed_tokens, xent_micro,
    * delta_micro).
    */
  def sourceAblation(df: DataFrame, idCol: String, sourceCol: String,
      textCol: String, buckets: Int, salt: String): DataFrame = {
    require(buckets > 0, s"buckets ($buckets) must be > 0")
    val spark = df.sparkSession
    import spark.implicits._
    val tagged = df.select(col(sourceCol).as("s"), col(textCol).as("_txt"),
      (conv(substring(md5(concat(lit(s"$salt|"),
        col(idCol).cast("string"))), 1, 4), 16, 10).cast("int") % 10 === 9)
        .as("held"))
    val toks = tagged.select(col("s"), col("held"),
        explode(words(col("_txt"))).as("w"))
      .withColumn("b",
        conv(substring(md5(concat(lit("slm|"), col("w"))), 1, 4), 16, 10)
          .cast("int") % buckets)
      .localCheckpoint(eager = true)
    val train = toks.filter(!col("held"))
    val sb = train.groupBy("s", "b").agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = true)
    val tb = sb.groupBy("b").agg(sum("c").as("tc"))
    val ns = sb.groupBy("s").agg(sum("c").as("nsrc"))
    val tt = sb.agg(sum("c").as("tt"))
    // scenario grid: __FULL__ (nothing removed) + one row per source
    val scen = ns.select(col("s").as("scenario"), col("nsrc").as("rm"))
      .unionByName(
        spark.range(1).select(lit("__FULL__").as("scenario"),
          lit(0L).as("rm")))
    // complete bucket spine: a held-out bucket with NO train mass must
    // still score its add-one-smoothed 1/(den+B), not silently drop
    val spine = spark.range(buckets).select(col("id").cast("int").as("b"))
    val model = scen.crossJoin(spine)
      .join(tb, Seq("b"), "left")
      .join(sb.select(col("s").as("scenario"), col("b"),
        col("c").as("_cs")), Seq("scenario", "b"), "left")
      .crossJoin(broadcast(tt))
      .select(col("scenario"), col("rm"), col("b"),
        (coalesce(col("tc"), lit(0L)) - coalesce(col("_cs"), lit(0L)))
          .as("cnt"),
        (col("tt") - col("rm")).as("den"))
      .select(col("scenario"), col("rm"), col("b"),
        floor(-log((col("cnt") + 1).cast("double")
            / (col("den") + lit(buckets)).cast("double"))
          * 1000000.0 + 0.5).cast("long").as("nll_mu"))
    val heldHist = toks.filter(col("held")).groupBy("b")
      .agg(count(lit(1)).as("hc"))
    val xent = model.join(broadcast(heldHist), "b")
      .groupBy("scenario", "rm")
      .agg(sum(col("hc") * col("nll_mu")).as("_s"), sum("hc").as("nh"))
      .select(col("scenario"), col("rm"),
        expr("_s div nh").as("xent_micro"))
      .localCheckpoint(eager = true)
    val full = xent.filter(col("scenario") === "__FULL__")
      .select(col("xent_micro").as("_xf"))
    xent.crossJoin(broadcast(full))
      .crossJoin(broadcast(tt))
      .select(col("scenario"), (col("tt") - col("rm"))
          .as("n_train_tokens"),
        col("rm").as("n_removed_tokens"), col("xent_micro"),
        (col("xent_micro") - col("_xf")).as("delta_micro"))
      .orderBy("scenario")
  }

  /** Corpus concentration readouts (Gini over per-doc token counts;
    * Herfindahl–Hirschman over source token shares) — the "is my
    * corpus a few whales plus plankton" numbers a curation team reads
    * next to [[dispersionDp]]'s per-word view: Gini says whether token
    * mass concentrates in few DOCUMENTS (length skew → packing/
    * sampling bias), HHI whether it concentrates in few SOURCES
    * (mixture fragility — one takedown and the corpus halves).
    *
    * Scale (the X218 no-corpus-sort argument): Gini never sorts docs —
    * the per-doc length table reduces to a LENGTH HISTOGRAM (bounded
    * by the length domain), and the exact rank-sum formula folds over
    * it: a block of cnt docs of length x spanning ranks
    * (cb, cb+cnt] contributes x·(cnt·cb + cnt(cnt+1)/2) to Σ i·x_(i)
    * — tie order provably cancels. All arithmetic in decimal/ppm
    * `div`; G = 2·S·10⁶ div (n·T) − (n+1)·10⁶ div n.
    *
    * Output (measure, value) rows: n_docs, n_sources, total_tokens,
    * gini_doc_ppm, hhi_source_ppm, top_source_share_ppm.
    */
  def concentration(df: DataFrame, idCol: String, sourceCol: String,
      textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val docs = df.select(col(idCol).as("d"), col(sourceCol).as("s"),
        size(words(col(textCol))).cast("long").as("len"))
      .localCheckpoint(eager = true)
    // length histogram + exact grouped rank-sum Gini
    val hist = docs.groupBy("len").agg(count(lit(1)).as("cnt"))
    val byLen = org.apache.spark.sql.expressions.Window.orderBy("len")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    val gini = hist
      .withColumn("cb", coalesce(sum("cnt").over(byLen), lit(0L)))
      .withColumn("rsum", expr("cnt * cb + (cnt * (cnt + 1)) div 2"))
      .agg(sum(dec(col("len")) * dec(col("rsum"))).as("srank"),
        sum(col("cnt")).as("n"), sum(dec(col("len")) * dec(col("cnt")))
          .as("t"))
      .select(
        (expr("CAST(2 AS DECIMAL(38,0)) * srank * 1000000 div (n * t)")
          - expr("(CAST(n AS DECIMAL(38,0)) + 1) * 1000000 div n"))
          .cast("long").as("gini_doc_ppm"),
        col("n").cast("long").as("n_docs"), col("t").cast("long")
          .as("total_tokens"))
    val bySrc = docs.groupBy("s").agg(sum("len").as("st"))
    val srcStats = bySrc.crossJoin(broadcast(
        bySrc.agg(sum("st").as("tt"), count(lit(1)).as("ns"))))
      .select(col("ns"), expr("(st * 1000000) div tt").as("share_ppm"))
      .groupBy("ns").agg(
        expr("sum(share_ppm * share_ppm) div 1000000").as("hhi_source_ppm"),
        max("share_ppm").as("top_source_share_ppm"))
    gini.crossJoin(broadcast(srcStats))
      .select(map(
        lit("n_docs"), col("n_docs"),
        lit("n_sources"), col("ns").cast("long"),
        lit("total_tokens"), col("total_tokens"),
        lit("gini_doc_ppm"), col("gini_doc_ppm"),
        lit("hhi_source_ppm"), col("hhi_source_ppm"),
        lit("top_source_share_ppm"), col("top_source_share_ppm")).as("m"))
      .select(explode(col("m")).as(Seq("measure", "value")))
      .orderBy("measure")
  }
}
