package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.LocalFinish

/** Embedding-vector operators: similarity search (exact top-k and
  * LSH-bucketed ANN) over an `array<float>` column.
  *
  * Determinism: float dot products are NOT portable across engines (sum
  * order, FMA, SIMD), so ranking math is done on QUANTIZED vectors —
  * `floor(x * 1000)` per component as a LONG — making every dot product
  * exact integer arithmetic, bit-identical in Spark and DuckDB and
  * independent of partitioning. Quantization error is bounded (≤1e-3 per
  * component) and irrelevant to ranking quality at 64 dims.
  *
  * Scale design:
  *  - [[topK]] is the exact baseline: corpus ⋈ broadcast(query set). It
  *    is linear in |corpus| × |queries| — fine for a bounded query set,
  *    and the all-pairs (corpus × corpus) form is rejected: at 100 TB an
  *    unpruned similarity cross join is quadratic and never acceptable.
  *  - [[annLsh]] is the scale path: random-hyperplane LSH where the
  *    hyperplanes are the first `bits` coordinate axes (deterministic,
  *    engine-portable sign test). Corpus and queries are bucketed by the
  *    sign pattern and joined on the bucket — a plain shuffle equi-join
  *    whose right side prunes to ~|corpus| / 2^bits per probe. Recall is
  *    tuned by `bits` (fewer bits → bigger buckets → higher recall) or by
  *    multi-probing neighbor buckets; the join stays an equi-join either
  *    way.
  */
object VectorOps {

  /** Quantize an array<float> to array<long> at 3 decimal places. The
    * explicit cast to double BEFORE scaling pins the same float→double
    * promotion DuckDB applies.
    */
  def quantize(v: Column, scale: Int = 1000): Column =
    transform(v, x => floor(x.cast("double") * scale.toDouble))

  /** Exact integer dot product of two array<long> (codegen'd fold, no
    * UDF). Portable spelling — works on any session; prefer [[dotFn]]
    * which upgrades to the native fused-loop expression when the
    * GraftExtensions function is registered.
    */
  def dotQ(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Best available dot product for this session: the custom Catalyst
    * `dot_q_long` expression (one primitive loop, whole-stage codegen)
    * when registered via [[graft.functions.GraftExtensions]], else the
    * portable higher-order-function form. Both compute identical values.
    */
  def dotFn(spark: org.apache.spark.sql.SparkSession): (Column, Column) => Column =
    if (spark.catalog.functionExists("dot_q_long"))
      (a, b) => call_function("dot_q_long", a, b)
    else dotQ

  /** Sign-pattern LSH bucket from the first `bits` components (axis
    * hyperplanes): bit i set iff component i ≥ 0.
    */
  def signBucket(v: Column, bits: Int): Column =
    if (bits <= 0) lit(0L) // degenerate single bucket (exact search)
    else (0 until bits)
      .map(i => when(element_at(v, i + 1).cast("double") >= 0.0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Exact top-k neighbours for each row of `queries` against `corpus`
    * (both carrying `idCol` and a quantized `array<long>` `vecCol`),
    * excluding self-matches. `queries` is broadcast — it must be the
    * small side.
    */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int,
      dot: (Column, Column) => Column = dotQ): DataFrame = {
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dot_q").desc, col(idCol))
    corpus
      .join(q, col(idCol) =!= col("query_id"))
      .withColumn("dot_q", dot(col("_qv"), col(vecCol)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol), col("dot_q"))
  }

  /** Maximal Marginal Relevance rerank (Carbonell & Goldstein,
    * SIGIR'98) — serving-time DEDUP for retrieval: an exact top-k of a
    * redundant corpus returns k near-copies of the best hit; MMR
    * greedily picks argmax λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s), so
    * each pick is penalized by its similarity to what is ALREADY
    * selected. λ as an integer fraction num/den makes the objective
    * score_scaled = num·rel − (den−num)·maxsim — same argmax, exact
    * integers end to end (dots are integer; ties to the smaller id).
    *
    * Scale: relevance shortlist = one broadcast-queries pass +
    * per-query top-shortK window (panel-bounded); each of the outK
    * greedy rounds joins the ≤ shortK candidates against the ≤ round
    * selected rows per query — panel × shortK × outK work, never
    * corpus². Output: (query_id, rank, vec_id, rel, mmr_scaled).
    */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, shortK: Int, outK: Int,
      lambdaNum: Long, lambdaDen: Long,
      dot: (Column, Column) => Column = dotQ): DataFrame = {
    require(shortK >= outK && outK >= 1,
      s"need shortK ($shortK) >= outK ($outK) >= 1")
    require(lambdaDen > 0 && lambdaNum >= 0 && lambdaNum <= lambdaDen,
      s"lambda $lambdaNum/$lambdaDen must be a fraction in [0, 1]")
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("_qq")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rel").desc, col("vec_id"))
    var cand = corpus
      .join(q, col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("vec_id"),
        col(vecCol).as("_v"), dot(col("_qq"), col(vecCol)).as("rel"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= shortK).drop("_rn")
      .localCheckpoint(eager = true)
    var selected: DataFrame = null
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (r <- 1 to outK) {
      val withSim =
        if (r == 1) cand.withColumn("_ms", lit(0L))
        else cand
          .join(selected.select(col("query_id"), col("_v").as("_sv")),
            Seq("query_id"))
          .groupBy("query_id", "vec_id")
          .agg(max(dot(col("_v"), col("_sv"))).as("_ms"))
          .join(cand, Seq("query_id", "vec_id"))
      val pick = withSim
        .select(col("query_id"), col("vec_id"), col("_v"), col("rel"),
          (lit(lambdaNum) * col("rel")
            - lit(lambdaDen - lambdaNum) * col("_ms")).as("score"))
        .groupBy("query_id")
        .agg(min(struct((-col("score")).as("ns"), col("vec_id").as("vid"),
          (-col("rel")).as("nr"))).as("b"))
        .select(col("query_id"), col("b.vid").as("vec_id"),
          (-col("b.ns")).as("mmr_scaled"), (-col("b.nr")).as("rel"))
        .join(cand.select("query_id", "vec_id", "_v"),
          Seq("query_id", "vec_id"))
        .withColumn("rank", lit(r))
        .localCheckpoint(eager = true) // next round's sim + the report
      parts += pick.select("query_id", "rank", "vec_id", "rel",
        "mmr_scaled")
      selected = if (r == 1) pick else selected.unionByName(pick)
      cand = cand.join(pick.select("query_id", "vec_id"),
        Seq("query_id", "vec_id"), "left_anti")
        .localCheckpoint(eager = true)
    }
    parts.reduce(_ unionByName _).orderBy("query_id", "rank")
  }

  /** Exact top-k like [[topK]], but ranked by the bounded-heap aggregate
    * `topk_by_long` ([[graft.functions.TopKByLong]]) instead of a
    * `row_number` window. Same rows, different physical plan: the window
    * form shuffles and sorts EVERY (query, candidate) row; the heap
    * aggregate is partial-mergeable, so each map task ships at most k
    * pairs per query through the exchange and no per-group sort runs —
    * the plan to prefer when candidates-per-query is large. Requires the
    * GraftExtensions session (function registered); rank/tie semantics
    * are identical (`ord DESC, payload ASC`).
    */
  def topKHeap(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int,
      dot: (Column, Column) => Column = dotQ): DataFrame = {
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv")))
    corpus
      .join(q, col(idCol) =!= col("query_id"))
      .withColumn("dot_q", dot(col("_qv"), col(vecCol)))
      .groupBy("query_id")
      .agg(call_function("topk_by_long", col(idCol), col("dot_q"), lit(k)).as("_tk"))
      .select(col("query_id"), posexplode(col("_tk")).as(Seq("_pos", "_e")))
      .select(col("query_id"), (col("_pos") + 1).cast("int").as("rank"),
        col("_e.payload").as(idCol), col("_e.ord").as("dot_q"))
  }

  /** ANN top-k: like [[topK]] but candidates are pruned to the query's
    * sign-LSH bucket via an equi-join (the 100-TB path — no broadcast
    * needed, no cross product; both sides shuffle on the bucket key).
    */
  def annLsh(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, rawVecCol: String, k: Int, bits: Int,
      dot: (Column, Column) => Column = dotQ): DataFrame = {
    val bucketed = corpus.withColumn("bucket", signBucket(col(rawVecCol), bits))
    val q = queries
      .withColumn("bucket", signBucket(col(rawVecCol), bits))
      .select(col(idCol).as("query_id"), col(vecCol).as("_qv"), col("bucket"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dot_q").desc, col(idCol))
    bucketed
      .join(q, Seq("bucket"))
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("dot_q", dot(col("_qv"), col(vecCol)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol), col("bucket"), col("dot_q"))
  }

  /** Multi-probe ANN: like [[annLsh]], but each query also probes the
    * `bits` Hamming-1 neighbor buckets (own bucket XOR each single bit).
    * Recall rises sharply — a near neighbor differing in one sign bit is
    * found — while the work grows only (bits+1)× on the (small) query
    * side; the join stays a plain equi-join on the bucket key and each
    * corpus row still lives in exactly one bucket, so no candidate
    * dedup is needed.
    */
  def annLshMultiProbe(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, rawVecCol: String, k: Int, bits: Int,
      dot: (Column, Column) => Column = dotQ): DataFrame = {
    val bucketed = corpus.withColumn("bucket", signBucket(col(rawVecCol), bits))
    val probes = array(
      col("_b0") +: (0 until bits).map(i => col("_b0").bitwiseXOR(lit(1L << i))): _*)
    val q = queries
      .withColumn("_b0", signBucket(col(rawVecCol), bits))
      .select(col(idCol).as("query_id"), col(vecCol).as("_qv"),
        explode(probes).as("bucket"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dot_q").desc, col(idCol))
    bucketed
      .join(q, Seq("bucket"))
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("dot_q", dot(col("_qv"), col(vecCol)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol), col("bucket"), col("dot_q"))
  }

  /** IVF-style (inverted-file) ANN top-k — the centroid-partitioned
    * alternative to sign-LSH bucketing ([[annLsh]]).
    *
    * Build: every corpus vector is assigned to its nearest centroid
    * (highest quantized dot; ties by lowest centroid id) via a
    * corpus × broadcast(centroids) join + one `min_by` hash aggregation —
    * the standard IVF build cost of |corpus| × nList dot products, all
    * map-side, no shuffle of the corpus beyond the argmax agg.
    *
    * Search: each query ranks the centroids, probes its `nProbe` nearest
    * lists, and the candidate join is a plain EQUI-join on `centroid_id` —
    * each corpus vector lives in exactly one list, so a (query, corpus)
    * pair can match at most once and no dedup is needed. Scanned fraction
    * ≈ nProbe / nList of the corpus per query.
    *
    * Scale: pick nList ≈ √n so build cost (n·√n dots) and per-probe list
    * size (√n) balance; centroids stay broadcastable for any realistic
    * nList. Determinism: quantized integer dots; ties broken by id —
    * bit-identical in Spark and DuckDB.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int,
      dot: (Column, Column) => Column = dotQ): DataFrame = {
    val cent = broadcast(
      centroids.select(col(idCol).as("centroid_id"), col(vecCol).as("_cv")))
    // nearest-centroid assignment: argmax dot = min_by on (-dot, cid),
    // matching a row_number() ORDER BY dot DESC, cid ASC oracle exactly
    val assigned = corpus.crossJoin(cent)
      .withColumn("_cd", dot(col(vecCol), col("_cv")))
      .groupBy(col(idCol))
      .agg(min_by(
        struct(col("centroid_id"), col(vecCol).as("_v")),
        struct((col("_cd") * -1).as("_nd"), col("centroid_id"))).as("_a"))
      .select(col(idCol), col("_a.centroid_id").as("centroid_id"),
        col("_a._v").as(vecCol))
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
      .crossJoin(cent)
      .withColumn("_cd", dot(col("_qv"), col("_cv")))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("_cd").desc, col("centroid_id"))))
      .filter(col("_rn") <= nProbe)
      .select("query_id", "_qv", "centroid_id")
    val w = Window.partitionBy("query_id").orderBy(col("dot_q").desc, col(idCol))
    assigned.join(probes, Seq("centroid_id"))
      .filter(col(idCol) =!= col("query_id"))
      .withColumn("dot_q", dot(col("_qv"), col(vecCol)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col(idCol), col("centroid_id"), col("dot_q"))
  }

  /** Product-quantization codebooks (Jégou et al. TPAMI'11, public
    * literature): the vector space splits into `m` contiguous `subDim`-
    * wide subspaces and each gets its OWN `ksub`-centroid Lloyd
    * codebook — so a vector compresses to `m` small codes while ADC
    * distances ([[pqTopK]]) stay additive over subspaces. Training is m
    * independent [[kMeansCentroids]] runs over sliced vectors (same
    * deterministic init / fixed rounds / integer floor-division updates,
    * so the DuckDB oracle replays each subspace exactly).
    * Returns (sub, cid, cv) — m × ksub rows; this is the persisted
    * "trained index" artifact of a production ANN build.
    */
  def pqCodebooks(df: DataFrame, idCol: String, qvCol: String,
      m: Int, subDim: Int, ksub: Int, iters: Int,
      materialize: DataFrame => DataFrame = _.localCheckpoint(eager = true),
      dot: (Column, Column) => Column = dotQ): DataFrame = {
    require(m > 0 && subDim > 0, s"m ($m) and subDim ($subDim) must be > 0")
    (0 until m).map { s =>
      kMeansCentroids(
        df.select(col(idCol), slice(col(qvCol), s * subDim + 1, subDim).as("_sq")),
        idCol, "_sq", ksub, iters, materialize, dot)
        .select(lit(s).as("sub"), col("cid"), col("cv"))
    }.reduce(_ unionByName _)
  }

  /** PQ encoding: nearest sub-centroid per (vector, subspace) — the
    * same packed-argmin assignment as [[kMeans]], once per subspace.
    * Returns (idCol, sub, code): m rows per vector, each code in
    * [0, ksub) — at scale this n×m code table (bytes per vector, not
    * dims×8) IS the compressed index that makes 100 TB of embeddings
    * scannable.
    */
  def pqEncode(df: DataFrame, idCol: String, qvCol: String,
      codebooks: DataFrame, m: Int, subDim: Int,
      dot: (Column, Column) => Column = dotQ): DataFrame =
    (0 until m).map { s =>
      val sub = df.select(col(idCol),
        slice(col(qvCol), s * subDim + 1, subDim).as("_sq"))
      kmeansAssign(kmeansPrep(sub, idCol, "_sq", dot),
        codebooks.filter(col("sub") === s).select("cid", "cv"), dot)
        .select(col("_vid").as(idCol), lit(s).as("sub"),
          col("centroid_id").as("code"))
    }.reduce(_ unionByName _)

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query builds a
    * lookup table of exact integer distances to every sub-centroid
    * (m × ksub rows per query — bounded by the MODEL size and the query
    * batch, never the corpus), the code table equi-joins it on
    * (sub, code), and one partial-combine agg sums the m per-subspace
    * distances per (query, vector). Top-k per query runs through the
    * bounded [[graft.functions.TopKByLong]] heap aggregate (ord is the
    * NEGATED distance — largest ord = smallest distance, ties to the
    * smallest vec id), so ≤ k pairs per (query, partition) cross the
    * final exchange instead of a per-query sort of the whole corpus.
    * Output: (query_id, rank, idCol, adist_q) — adist_q is the exact
    * integer Σ-over-subspaces squared distance to the RECONSTRUCTED
    * (quantized) vector, the standard PQ approximation.
    */
  def pqTopK(codes: DataFrame, queries: DataFrame, codebooks: DataFrame,
      idCol: String, qvCol: String, k: Int, m: Int, subDim: Int,
      dot: (Column, Column) => Column = dotQ): DataFrame = {
    val cb = codebooks.select(col("sub").as("_cs"), col("cid"), col("cv"),
      dot(col("cv"), col("cv")).as("_cself"))
    val qsub = (0 until m).map { s =>
      queries.select(col(idCol).as("query_id"), lit(s).as("_cs"),
        slice(col(qvCol), s * subDim + 1, subDim).as("_sq"))
    }.reduce(_ unionByName _)
    val lut = qsub.join(cb, "_cs")
      .select(col("query_id"), col("_cs"), col("cid"),
        (dot(col("_sq"), col("_sq")) + col("_cself")
          - lit(2L) * dot(col("_sq"), col("cv"))).as("_d"))
    val approx = codes
      .join(broadcast(lut),
        codes("sub") === lut("_cs") && codes("code") === lut("cid"))
      .filter(col(idCol) =!= col("query_id"))
      .groupBy("query_id", idCol)
      .agg(sum("_d").as("adist_q"))
    approx
      .groupBy("query_id")
      .agg(call_function("topk_by_long",
        col(idCol), -col("adist_q"), lit(k)).as("_tk"))
      .select(col("query_id"), posexplode(col("_tk")).as(Seq("_pos", "_e")))
      .select(col("query_id"), (col("_pos") + 1).cast("int").as("rank"),
        col("_e.payload").as(idCol), (-col("_e.ord")).as("adist_q"))
  }

  /** IVF-PQ search (Jégou et al. TPAMI'11 — the production ANN index
    * shape): a coarse quantizer partitions the corpus into lists, PQ
    * codes compress each vector's RESIDUAL (x − list centroid), and a
    * query probes only `nProbe` lists, scoring their members through
    * per-(query, list) residual lookup tables. Candidate work per query
    * is ~nProbe/nList of the corpus; per-candidate work is m lookups —
    * both knobs independent of corpus size, which is what makes 100 TB
    * of embeddings searchable.
    *
    * `codes` must carry the vector's coarse list (`centroid_id`, from
    * [[assignToCentroids]]) plus (sub, code) residual codes from
    * [[pqEncode]] run on the residual vectors. LUTs are
    * |queries| × nProbe × m × ksub rows — query-batch- and model-sized,
    * never corpus-sized. All distances exact integers; probe order and
    * ADC ties break to the lowest id in both engines. Output:
    * (query_id, rank, idCol, adist_q).
    */
  def ivfPqTopK(codes: DataFrame, queries: DataFrame, coarse: DataFrame,
      codebooks: DataFrame, idCol: String, qvCol: String, k: Int,
      nProbe: Int, m: Int, subDim: Int,
      dot: (Column, Column) => Column = dotQ): DataFrame = {
    val cSelf = coarse.select(col("cid"), col("cv"),
      dot(col("cv"), col("cv")).as("_cself"))
    val q = queries.select(col(idCol).as("query_id"), col(qvCol).as("_qv"),
      dot(col(qvCol), col(qvCol)).as("_qself"))
    val probes = q.crossJoin(broadcast(cSelf))
      .withColumn("_d",
        col("_qself") + col("_cself") - lit(2L) * dot(col("_qv"), col("cv")))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("_d"), col("cid"))))
      .filter(col("_rn") <= nProbe)
      .select(col("query_id"), col("cid").as("_list"),
        zip_with(col("_qv"), col("cv"), (a, b) => a - b).as("_qr"))
    val cb = codebooks.select(col("sub").as("_s"), col("cid").as("_pc"),
      col("cv").as("_pcv"), dot(col("cv"), col("cv")).as("_pself"))
    val qsub = (0 until m).map { s =>
      probes.select(col("query_id"), col("_list"), lit(s).as("_s"),
        slice(col("_qr"), s * subDim + 1, subDim).as("_qs"))
    }.reduce(_ unionByName _)
    val lut = qsub.join(cb, "_s")
      .select(col("query_id"), col("_list"), col("_s"), col("_pc"),
        (dot(col("_qs"), col("_qs")) + col("_pself")
          - lit(2L) * dot(col("_qs"), col("_pcv"))).as("_d"))
    val approx = codes
      .join(broadcast(lut),
        codes("centroid_id") === lut("_list") && codes("sub") === lut("_s")
          && codes("code") === lut("_pc"))
      .filter(col(idCol) =!= col("query_id"))
      .groupBy("query_id", idCol)
      .agg(sum("_d").as("adist_q"))
    approx
      .groupBy("query_id")
      .agg(call_function("topk_by_long",
        col(idCol), -col("adist_q"), lit(k)).as("_tk"))
      .select(col("query_id"), posexplode(col("_tk")).as(Seq("_pos", "_e")))
      .select(col("query_id"), (col("_pos") + 1).cast("int").as("rank"),
        col("_e.payload").as(idCol), (-col("_e.ord")).as("adist_q"))
  }

  /** The FAISS-style REFINE stage (IndexRefineFlat): re-rank a compressed
    * index's shortlist with EXACT distances on the full-precision
    * vectors. PQ distances are approximations (quantization error moves
    * true neighbors a few ranks); production serving therefore asks the
    * compressed index for a C ≫ k shortlist and refines it. Candidate
    * work is |queries|·C rows — the corpus is touched only by the
    * shortlist's id equi-join (fetching C vectors per query), the query
    * batch broadcasts, and the final top-k runs through the bounded
    * heap aggregate. `shortlist` needs (query_id, idCol); output
    * mirrors [[pqTopK]] with EXACT `dist_q`.
    */
  def refineTopK(shortlist: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, qvCol: String, k: Int,
      dot: (Column, Column) => Column = dotQ): DataFrame = {
    val cand = shortlist.select(col("query_id"), col(idCol))
    val x = corpus.select(col(idCol), col(qvCol).as("_xv"),
      dot(col(qvCol), col(qvCol)).as("_xself"))
    val q = queries.select(col(idCol).as("query_id"), col(qvCol).as("_qv"),
      dot(col(qvCol), col(qvCol)).as("_qself"))
    cand.join(x, idCol)
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col(idCol),
        (col("_qself") + col("_xself")
          - lit(2L) * dot(col("_qv"), col("_xv"))).as("dist_q"))
      .groupBy("query_id")
      .agg(call_function("topk_by_long",
        col(idCol), -col("dist_q"), lit(k)).as("_tk"))
      .select(col("query_id"), posexplode(col("_tk")).as(Seq("_pos", "_e")))
      .select(col("query_id"), (col("_pos") + 1).cast("int").as("rank"),
        col("_e.payload").as(idCol), (-col("_e.ord")).as("dist_q"))
  }

  /** Partitioned graph-ANN index build (X286; the Vamana/DiskANN
    * shard-index family — Subramanya et al. NeurIPS'19, Malkov &
    * Yashunin's HNSW TPAMI'18 — re-expressed as deterministic Spark
    * joins). Returns the directed edge table (shard, src, dst).
    *
    * Structure per shard (shard = id mod `shards` — each node's graph
    * membership is a pure function of its id, so shard builds are
    * embarrassingly parallel and a node lives in exactly one shard):
    *  - PROXIMITY edges: each node's `degree` nearest shard-mates by
    *    exact integer squared-L2, candidates from its sign-LSH bucket
    *    plus the `bits` Hamming-1 probe buckets — an equi-join on
    *    (shard, bucket), never an all-pairs product (the same
    *    candidate-bounding argument as [[cosineNearDup]]).
    *  - RING edges: each node's `ringLinks` successors on the shard's
    *    md5 ring (nodes ordered by a keyed hash — a deterministic
    *    random permutation). The ring is a directed Hamiltonian cycle
    *    through the shard, so EVERY node is reachable from any entry
    *    (Vamana's random-init long-range links, made replayable), and
    *    ring hops give beam search its exploration moves where pure
    *    proximity edges would trap it in a local cluster.
    *
    * Scale: bucket candidate generation is |shard|·E[bucket]·(bits+1)
    * pairs — linear in corpus size for bits ~ log₂(n/S·16); the edge
    * table is O(n·(degree+ringLinks)) rows; per-node work never sees
    * the corpus. Determinism: integer distances, ties by dst id; the
    * ring orders by (md5, id).
    */
  def graphAnnEdges(corpus: DataFrame, idCol: String, qvCol: String,
      shards: Int, bits: Int, degree: Int, ringLinks: Int,
      dot: (Column, Column) => Column = dotQ): DataFrame = {
    require(shards >= 1, s"shards ($shards) must be >= 1")
    require(degree >= 1 && ringLinks >= 1,
      s"degree ($degree) and ringLinks ($ringLinks) must be >= 1")
    val nd = corpus.select(col(idCol).as("src"), col(qvCol).as("_v"),
      pmod(col(idCol), lit(shards.toLong)).as("shard"),
      signBucket(col(qvCol), bits).as("_bkt"),
      dot(col(qvCol), col(qvCol)).as("_self"))
    val probes = array(col("_bkt") +: (0 until bits).map(i =>
      col("_bkt").bitwiseXOR(lit(1L << i))): _*)
    val prox = nd
      .select(col("src"), col("_v").as("_av"), col("_self").as("_aself"),
        col("shard"), explode(probes).as("_bkt"))
      .join(nd.select(col("src").as("dst"), col("_v").as("_bv"),
        col("_self").as("_bself"), col("shard"), col("_bkt")),
        Seq("shard", "_bkt"))
      .filter(col("src") =!= col("dst"))
      .select(col("shard"), col("src"), col("dst"),
        (col("_aself") + col("_bself")
          - lit(2L) * dot(col("_av"), col("_bv"))).as("_d"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("shard", "src").orderBy(col("_d"), col("dst"))))
      .filter(col("_rn") <= degree)
      .select("shard", "src", "dst")
    val ringed = nd.select(col("shard"), col("src"),
        expr("cast(conv(substring(md5(concat('ring|', " +
          "cast(src as string))), 1, 15), 16, 10) as bigint)").as("_h"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("shard").orderBy(col("_h"), col("src"))))
      .withColumn("_cnt", count(lit(1)).over(Window.partitionBy("shard")))
    val ring = ringed
      .select(col("shard"), col("_rn"), col("_cnt"), col("src"),
        explode(array((1 to ringLinks).map(lit): _*)).as("_s"))
      .withColumn("_rn2", ((col("_rn") - 1 + col("_s")) % col("_cnt")) + 1)
      .join(ringed.select(col("shard"), col("_rn").as("_rn2"),
        col("src").as("dst")), Seq("shard", "_rn2"))
      .filter(col("src") =!= col("dst"))
      .select("shard", "src", "dst")
    prox.union(ring).distinct()
  }

  /** Beam search over a [[graphAnnEdges]] index: per (query, shard),
    * start from the shard's deterministic entry node (min keyed md5)
    * and run `hops` rounds of expand-score-prune — frontier ∪ its
    * out-neighbors, exact integer squared-L2 against the query, keep
    * the `beam` best (ties by id). Returns ALL final beam rows ranked
    * globally per query (rank over shards by distance) — callers take
    * `rank <= k` for top-k and the full table for beam membership.
    *
    * Monotone by construction: the beam is always a subset of
    * candidates that includes the previous beam, so a surplus hop
    * can only improve it (the SSSP idempotence argument). Self-matches
    * are excluded at scoring (queries are corpus vectors here, as in
    * [[graft.queries.LlmSurface]]'s recall harness).
    *
    * Scale: per hop per query per shard the scored candidate set is
    * ≤ beam·(degree+ringLinks+1) rows, joined by id equi-join against
    * the corpus — search cost is independent of corpus size once the
    * entry table (|shards| rows) exists; hops should grow ~log n (the
    * honest HNSW story — its hierarchy is exactly a hop-count
    * amortization, which a fixed-hop shard search trades for
    * per-shard parallelism). Each hop is checkpointed: the beam feeds
    * both the neighbor join and the union, and an unmaterialized
    * plan would double per hop (the X192 lesson).
    */
  def graphAnnSearch(edges: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, qvCol: String, k: Int,
      beam: Int, hops: Int, shards: Int,
      dot: (Column, Column) => Column = dotQ,
      materialize: DataFrame => DataFrame = _.localCheckpoint(eager = true),
      // observation hook per hop (hopIndex, candidate set) — the scale
      // bench counts explored candidates through it; default free
      hopProbe: (Int, DataFrame) => Unit = (_, _) => ())
      : DataFrame = {
    require(k >= 1 && beam >= k, s"need beam ($beam) >= k ($k) >= 1")
    require(hops >= 1, s"hops ($hops) must be >= 1")
    val x = corpus.select(col(idCol).as("vec_id"), col(qvCol).as("_xv"),
      dot(col(qvCol), col(qvCol)).as("_xself"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(qvCol).as("_qv"), dot(col(qvCol), col(qvCol)).as("_qself")))
    val entries = corpus.select(col(idCol).as("vec_id"),
        pmod(col(idCol), lit(shards.toLong)).as("shard"),
        expr("cast(conv(substring(md5(concat('entry|', " +
          s"cast($idCol as string))), 1, 15), 16, 10) as bigint)").as("_h"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("shard").orderBy(col("_h"), col("vec_id"))))
      .filter(col("_rn") === 1)
      .select("shard", "vec_id")
    var bm = materialize(
      q.select(col("query_id")).crossJoin(broadcast(entries)))
    (1 to hops).foreach { h =>
      val nbr = bm
        .join(edges.withColumnRenamed("src", "vec_id"),
          Seq("shard", "vec_id"))
        .select(col("query_id"), col("shard"), col("dst").as("vec_id"))
      val cand = bm.select("query_id", "shard", "vec_id")
        .union(nbr).distinct()
      hopProbe(h, cand)
      val scored = cand.join(x, "vec_id").join(q, "query_id")
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("shard"), col("vec_id"),
          (col("_qself") + col("_xself")
            - lit(2L) * dot(col("_qv"), col("_xv"))).as("dist_q"))
      bm = materialize(scored
        .withColumn("_rn", row_number().over(
          Window.partitionBy("query_id", "shard")
            .orderBy(col("dist_q"), col("vec_id"))))
        .filter(col("_rn") <= beam)
        .select("query_id", "shard", "vec_id", "dist_q"))
    }
    bm.withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("dist_q"), col("vec_id"))))
      .select("query_id", "rank", "vec_id", "dist_q")
  }

  /** Rocchio pseudo-relevance feedback (X303; Rocchio 1971): round-0
    * retrieves `k0` neighbors by exact integer dot (ranking by dot is
    * scale-invariant, so the integer-only update needs no normalizing
    * division), the query moves to q' = α·q + β·Σ(top-k0 vectors),
    * round-1 re-retrieves with q', and both rounds are graded by
    * LABEL precision@`kEval` — the feedback loop's own effectiveness
    * readout (neighbors pull the query toward its class centroid).
    *
    * `emb` carries (vec_id, qvCol, label); `queries` is the (small)
    * query subset of it. Scoring is queries×corpus brute force — the
    * panel-bounded evaluator shape ([[graft.queries.LlmSurface]]'s
    * recall harness precedent); the PRODUCTION retrieval step would
    * be any of the ANN indexes, feedback math unchanged.
    *
    * Output per query: (query_id, label, hits_r0, hits_r1, uplift).
    */
  def rocchioFeedback(emb: DataFrame, queries: DataFrame, qvCol: String,
      k0: Int, kEval: Int, alpha: Long, beta: Long,
      dot: (Column, Column) => Column = dotQ): DataFrame = {
    val x = emb.select(col("vec_id"), col(qvCol).as("_xv"),
      col("label").as("_xl"))
    def retrieve(qs: DataFrame, k: Int) = qs
      .select(col("vec_id").as("query_id"), col(qvCol).as("_qv"))
      .crossJoin(x)
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("_d", dot(col("_qv"), col("_xv")))
      .withColumn("_rn", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("_d").desc, col("vec_id"))))
      .filter(col("_rn") <= k)
      .select(col("query_id"), col("vec_id"), col("_xl"))
    val r0top = retrieve(queries, k0).localCheckpoint(true)
    val fb = centroidSums(
        r0top.join(emb.select(col("vec_id"), col(qvCol)), "vec_id"),
        "query_id", qvCol)
      .select(col("query_id"), col("vec_sum"))
    val moved = queries.join(fb, queries("vec_id") === fb("query_id"))
      .select(queries("vec_id"),
        zip_with(col(qvCol), col("vec_sum"),
          (q, sums) => q * alpha + sums * beta).as(qvCol))
    val qLab = queries.select(col("vec_id").as("query_id"),
      col("label").as("qlabel"))
    def hits(r: DataFrame, name: String) = r.join(qLab, "query_id")
      .groupBy("query_id", "qlabel")
      .agg(sum(when(col("_xl") === col("qlabel"), 1L).otherwise(0L))
        .as(name))
    hits(retrieve(queries, kEval), "hits_r0")
      .join(hits(retrieve(moved, kEval), "hits_r1")
        .select("query_id", "hits_r1"), "query_id")
      .select(col("query_id"), col("qlabel").as("label"),
        col("hits_r0"), col("hits_r1"),
        (col("hits_r1") - col("hits_r0")).as("uplift"))
      .orderBy("query_id")
  }

  /** Element-wise per-group vector sums — the centroid-UPDATE half of a
    * distributed k-means iteration (the assignment half is [[ivfTopK]]'s
    * build step). `posexplode` → partial sums per (group, position) →
    * regroup to an array in position order. All exact integer arithmetic
    * on quantized vectors; both aggregations get map-side partial
    * combine, so the shuffle carries |groups|×dims rows, not the corpus.
    *
    * Returns (groupCol, n, vec_sum: array<long>); callers derive the
    * centroid as an element-wise mean of vec_sum / n.
    */
  def centroidSums(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(groupCol), col("pos"))
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .groupBy(col(groupCol))
      .agg(
        max("n").as("n"),
        min("n").as("_n_min"),
        transform(array_sort(collect_list(struct(col("pos"), col("s")))),
          x => x.getField("s")).as("vec_sum"))
      // "n" is only THE group's row count if every position saw the same
      // number of values — i.e. all vectors in the group have equal length.
      // Ragged or empty arrays would silently skew the downstream
      // vec_sum/n mean, so fail loudly instead. The filter runs over
      // |groups| rows (cheap) and cannot be pruned away like a dropped
      // assert_true column would be.
      .filter(when(col("_n_min") === col("n"), lit(true)).otherwise(
        raise_error(concat(lit("centroidSums: ragged vectors in group "),
          col(groupCol).cast("string"),
          lit(" (a position saw "), col("_n_min").cast("string"),
          lit(" rows, another "), col("n").cast("string"), lit(")")))
          .cast("boolean")))
      .drop("_n_min")

  /** Prototypicality scoring + bottom-decile prune flag — the
    * data-pruning signal of Sorscher et al. 2022 ("Beyond neural
    * scaling laws"): rank each vector by its distance to its group's
    * centroid; in the big-data regime the MOST prototypical
    * (centroid-nearest, most redundant) examples are the ones to drop,
    * so `prune` marks the bottom `pruneFrac` of each label group by
    * squared centroid distance.
    *
    * Determinism: the centroid is the FLOORED integer mean
    * (`floor(s/n)` per component via double division — the [[kMeans]]
    * spelling, identical in DuckDB), so `dist2 = Σ(x−c)²` is exact
    * integer arithmetic bounded by dims·(2·range)² regardless of group
    * size — unlike the `Σ(n·x−s)²` spelling, whose d² term grows with
    * n² and overflows Long for groups past ~10⁸ rows. The threshold is
    * an exact interpolated percentile over integer dist2 (Spark
    * `percentile` ≡ DuckDB `quantile_cont`, the X32-pinned identity);
    * the flag compares integers against that double, where a boundary
    * flip would need the interpolant to land within one ulp of an
    * integer AND the engines to round differently — both formulas are
    * the same IEEE expression, so they round identically (the X155
    * fence-comparison precedent).
    *
    * Scale shape: [[centroidSums]]' exchange carries |labels|×dims
    * rows; the distance pass is one narrow map of the corpus against
    * the broadcast |labels|-row centroid table; the threshold agg and
    * its join-back are |labels|-row; no window or global sort anywhere.
    *
    * Output: (idCol, labelCol, n_label, dist2, thr, prune 0/1).
    */
  def prototypicality(df: DataFrame, idCol: String, qvCol: String,
      labelCol: String, pruneFrac: Double): DataFrame = {
    require(pruneFrac > 0.0 && pruneFrac < 1.0,
      s"pruneFrac ($pruneFrac) must be in (0, 1)")
    val cent = centroidSums(df, labelCol, qvCol)
      .select(col(labelCol), col("n"),
        transform(col("vec_sum"),
          s => floor(s / col("n").cast("double")).cast("long")).as("_cent"))
    val scored = df.join(cent, labelCol)
      .withColumn("dist2",
        aggregate(zip_with(col(qvCol), col("_cent"),
          (x, c) => (x - c) * (x - c)), lit(0L), (a, v) => a + v))
      .select(col(idCol), col(labelCol), col("n"), col("dist2"))
    val thr = scored.groupBy(labelCol)
      .agg(expr(s"percentile(dist2, $pruneFrac)").as("_thr"))
    scored.join(thr, Seq(labelCol))
      .select(col(idCol), col(labelCol), col("n").as("n_label"), col("dist2"),
        (floor(col("_thr") * 1000000.0 + 0.5) / 1000000.0).as("thr"),
        when(col("dist2") <= col("_thr"), 1).otherwise(0).as("prune"))
  }

  /** Full distributed k-means over quantized vectors — the clustering
    * primitive behind semantic dedup and diversity sampling of training
    * corpora (cluster, then sample per cluster / drop near-centroid
    * redundancy). Composes the two steps that already exist in this
    * file — centroid assignment ([[ivfTopK]]'s build) and centroid
    * update ([[centroidSums]]) — into the actual Lloyd iteration loop.
    *
    * Deterministic and engine-portable BY CONSTRUCTION (the DuckDB
    * oracle replays the identical math):
    *  - init = the k lowest-id vectors (no RNG), remapped to DENSE
    *    centroid ids 0..k-1 (rank by id) — raw input ids must never be
    *    packed as cids, or any corpus whose smallest ids exceed the cid
    *    width silently corrupts the argmin;
    *  - distances are exact integer sums of squared differences of
    *    quantized components;
    *  - the argmin is bit-packed: key = (dist² << [[CidBits]]) | cid, so
    *    assignment is a plain `min` and ties break toward the lowest
    *    centroid id (hence k ≤ [[MaxK]]); dist² needs < 2^43 headroom,
    *    which holds with ~32000× slack for 64-dim unit-range embeddings
    *    quantized at ×1000 (dist² ≤ 64·2000² ≈ 2.6e8 < 2^28);
    *  - centroid update is floor(component sum / n) — integer centroids
    *    every round, no float drift;
    *  - a cluster that loses all members drops out (documented, same in
    *    both engines); iteration count is FIXED (`iters` assignments,
    *    `iters - 1` updates), not convergence-tested, so every engine
    *    runs the same number of rounds.
    *
    * Scale shape per round: assignment is a narrow map over
    * corpus × broadcast(k centroids) — linear in k, no shuffle; update
    * is two partial-combine aggregations whose exchange carries
    * k × dims rows, not the corpus. Only the k-row centroid table is
    * checkpointed per round (the corpus is never re-materialized). The
    * init rank window runs over the k-row limit result only — a single
    * partition of ≤ [[MaxK]] tiny rows, once per job, never the corpus.
    */
  def kMeans(df: DataFrame, idCol: String, qvCol: String, k: Int,
      iters: Int,
      materialize: DataFrame => DataFrame = _.localCheckpoint(eager = true),
      dot: (Column, Column) => Column = dotQ)
      : DataFrame =
    assignToCentroids(df, idCol, qvCol,
      kMeansCentroids(df, idCol, qvCol, k, iters, materialize, dot), dot)

  /** Nearest-centroid assignment against a GIVEN (cid, cv) table — the
    * public form of [[kMeans]]' assignment step, for callers that hold
    * trained centroids (IVF list assignment, residual computation in
    * IVF-PQ). Same packed argmin, so ties break to the lowest cid
    * exactly like the training loop and the oracle's
    * `ORDER BY dist, cid` replay. Returns (idCol, centroid_id, dist_q).
    */
  def assignToCentroids(df: DataFrame, idCol: String, qvCol: String,
      centroids: DataFrame,
      dot: (Column, Column) => Column = dotQ): DataFrame =
    kmeansAssign(kmeansPrep(df, idCol, qvCol, dot), centroids, dot)
      .select(col("_vid").as(idCol), col("centroid_id"), col("dist_q"))

  /** The trained model half of [[kMeans]]: the centroid table (cid, cv)
    * after `iters - 1` Lloyd updates — what an index build (e.g. IVF
    * list training, see [[ivfTopK]]) consumes directly. [[kMeans]] is
    * exactly one more assignment over this table, so the two stay in
    * lock-step by construction.
    */
  def kMeansCentroids(df: DataFrame, idCol: String, qvCol: String, k: Int,
      iters: Int,
      materialize: DataFrame => DataFrame = _.localCheckpoint(eager = true),
      dot: (Column, Column) => Column = dotQ)
      : DataFrame = {
    require(k > 0 && k <= MaxK, s"k ($k) must be in 1..$MaxK (cid packs into $CidBits bits)")
    require(iters >= 1, s"iters ($iters) must be >= 1")
    val e = kmeansPrep(df, idCol, qvCol, dot)
    var centroids = materialize(
      e.orderBy("_vid").limit(k)
        .select((row_number().over(Window.orderBy("_vid")) - 1).cast("long").as("cid"),
          col("qv").as("cv")))
    (1 until iters).foreach { _ =>
      val sums = kmeansAssign(e, centroids, dot).join(e, "_vid")
        .select(col("centroid_id"), posexplode(col("qv")).as(Seq("_j", "_x")))
        .groupBy("centroid_id", "_j")
        .agg(sum("_x").as("_s"), count(lit(1)).as("_n"))
        .groupBy("centroid_id")
        .agg(transform(
          array_sort(collect_list(struct(col("_j"),
            floor(col("_s") / col("_n").cast("double")).cast("long").as("_v")))),
          t => t.getField("_v")).as("cv"))
      centroids = materialize(
        sums.select(col("centroid_id").as("cid"), col("cv")))
    }
    centroids
  }

  // dist² decomposes as |a|² + |b|² - 2a·b — the SAME exact integers as
  // Σ(aᵢ-bᵢ)², but the per-(row, centroid) hot loop shrinks to ONE dot
  // product (a fused codegen'd loop when callers pass [[dotFn]]): the
  // self-dots hoist to once per corpus row / once per centroid instead
  // of being recomputed k× / n× inside the assignment's k-way fan-out.
  private def kmeansPrep(df: DataFrame, idCol: String, qvCol: String,
      dot: (Column, Column) => Column): DataFrame =
    df.select(col(idCol).as("_vid"), col(qvCol).as("qv"),
      dot(col(qvCol), col(qvCol)).as("_self"))

  private def kmeansAssign(e: DataFrame, cent: DataFrame,
      dot: (Column, Column) => Column): DataFrame = {
    val centSelf = cent.select(col("cid"), col("cv"),
      dot(col("cv"), col("cv")).as("_cself"))
    val dist = col("_self") + col("_cself") - lit(2L) * dot(col("qv"), col("cv"))
    e.crossJoin(broadcast(centSelf))
      .select(col("_vid"), shiftleft(dist, CidBits).bitwiseOR(col("cid")).as("_key"))
      .groupBy("_vid").agg(min("_key").as("_k"))
      .select(col("_vid"),
        col("_k").bitwiseAND(lit((MaxK - 1).toLong)).as("centroid_id"),
        shiftright(col("_k"), CidBits).as("dist_q"))
  }

  /** Width of the centroid-id field in [[kMeans]]' packed argmin key:
    * cids occupy the low 20 bits, distances the high 43 — up to ~1M
    * clusters with vast distance headroom (see [[kMeans]] scaladoc).
    */
  val CidBits = 20
  val MaxK: Int = 1 << CidBits

  /** Coarse-list count for an ANN index: ~√n lists (the public FAISS
    * guidance is 4√n..16√n; we take ceil(√n)) — balances assignment
    * cost (n × nList dot products) against probe depth, and keeps the
    * broadcast centroid table MODEL-sized (√n rows) where a
    * [[kForCorpus]]-style n/c list count would make the broadcast grow
    * linearly with the corpus and die long before 100 TB. Clustering
    * ops keep kForCorpus (there the requirement is bounded cluster
    * SIZE); index builds take this.
    */
  def nListForCorpus(n: Long): Int =
    math.max(1L, math.min(MaxK.toLong,
      math.ceil(math.sqrt(math.max(0L, n).toDouble)).toLong)).toInt

  /** Cluster count that keeps SemDeDup-style in-cluster pairwise work
    * sub-quadratic as the corpus grows: k = ceil(n / targetClusterSize),
    * clamped to [1, [[MaxK]]]. With FIXED k, Σ|cluster|² ≈ n²/k is still
    * quadratic in corpus size no matter the constant — the same argument
    * [[bitsForCorpus]] makes against fixed LSH bits; growing k with n
    * bounds EXPECTED cluster size by targetClusterSize, so in-cluster
    * pairing grows ~linearly (n × targetClusterSize).
    */
  def kForCorpus(n: Long, targetClusterSize: Int = 64): Int = {
    require(targetClusterSize > 0, s"targetClusterSize ($targetClusterSize) must be > 0")
    // cap BEFORE the ceil-div: n + target - 1 overflows near Long.MaxValue
    if (n >= MaxK.toLong * targetClusterSize) MaxK
    else math.max(1L, (math.max(0L, n) + targetClusterSize - 1) / targetClusterSize).toInt
  }

  /** Greedy k-center coreset selection (farthest-point traversal,
    * Gonzalez 1985): pick the lowest-id vector, then k−1 times pick the
    * vector FARTHEST from everything selected so far — the classic
    * 2-approximation to the k-center objective, and the
    * diversity-driven complement to density-based selection
    * (`prototypicality` keeps what is typical; this keeps what SPANS).
    * Returns the selection log — (sel_idx, idCol, dist_q) — where
    * dist_q is the squared quantized distance from the pick to its
    * nearest earlier center at selection time: the greedy radius
    * sequence, non-increasing by construction (each pick covers
    * everything within its own distance): row i's dist is the coverage
    * radius the first i−1 centers had achieved.
    *
    * Scale shape per round: ONE new center broadcast (1 row) onto the
    * corpus, a narrow `least` update of the running min-distance, a
    * TakeOrdered(1) argmax, and a checkpoint of the slim
    * (id, qv, best) state — the min-distance column is iterated state
    * (like Mondrian's region ids, unlike kMeans' static corpus), so
    * the per-round materialization is the honest cost: k linear
    * passes total, never a k×corpus distance matrix. Ties on the
    * argmax break to the lowest id (DESC dist, ASC id), so the
    * trajectory is deterministic and a SQL oracle replays every round
    * bit-for-bit. Requires k ≤ the number of distinct vectors (with
    * fewer, the all-zero-distance tail would re-pick covered points).
    */
  def kCenterGreedy(df: DataFrame, idCol: String, qvCol: String, k: Int,
      materialize: DataFrame => DataFrame = _.localCheckpoint(eager = true),
      dot: (Column, Column) => Column = dotQ): DataFrame = {
    require(k >= 1 && k <= 1024, s"k ($k) must be in 1..1024")
    val e = kmeansPrep(df, idCol, qvCol, dot)
    val seed = materialize(e.orderBy("_vid").limit(1)
      .select(col("_vid").as("_cid"), col("qv").as("cv"),
        col("_self").as("_cself"), lit(0L).as("_seldist")))
    var state = materialize(e.crossJoin(broadcast(
        seed.select(col("cv"), col("_cself"))))
      .select(col("_vid"), col("qv"), col("_self"),
        (col("_self") + col("_cself") - lit(2L) * dot(col("qv"), col("cv")))
          .as("_best")))
    val picks = collection.mutable.Buffer(seed)
    (2 to k).foreach { _ =>
      val next = materialize(
        state.orderBy(col("_best").desc, col("_vid").asc).limit(1)
          .select(col("_vid").as("_cid"), col("qv").as("cv"),
            col("_self").as("_cself"), col("_best").as("_seldist")))
      picks += next
      val prev = state
      state = materialize(state.crossJoin(broadcast(
          next.select(col("cv"), col("_cself"))))
        .select(col("_vid"), col("qv"), col("_self"),
          least(col("_best"),
            col("_self") + col("_cself") - lit(2L) * dot(col("qv"), col("cv")))
            .as("_best")))
      graft.operators.SuffixArray.freeCheckpoint(prev)
    }
    graft.operators.SuffixArray.freeCheckpoint(state)
    picks.zipWithIndex.map { case (p, i) =>
      p.select(lit(i + 1).as("sel_idx"), col("_cid").as(idCol),
        col("_seldist").as("dist_q"))
    }.reduce(_.unionByName(_))
  }

  /** SemDeDup (Abbas et al. 2023) semantic-duplicate flags: k-means
    * partitions the corpus so the quadratic pairwise cosine check runs
    * WITHIN clusters only (one equi-join on centroid_id — never
    * all-pairs); the later (higher-id) member of every pair whose
    * quantized dot reaches `minDotQ` is flagged. Returns one row per
    * input id: (idCol, centroid_id, semantic_dup).
    *
    * Pass k = [[kForCorpus]](n) — a fixed k leaves Σ|cluster|² quadratic
    * in corpus size, which this helper exists to prevent.
    */
  def semanticDupFlags(emb: DataFrame, idCol: String, qvCol: String,
      k: Int, iters: Int, minDotQ: Long,
      dot: (Column, Column) => Column = dotQ): DataFrame = {
    val assign = kMeans(emb, idCol, qvCol, k, iters, dot = dot)
      .select(idCol, "centroid_id")
    val withC = emb.select(col(idCol), col(qvCol)).join(assign, idCol)
    val dups = withC
      .select(col("centroid_id"), col(idCol).as("_id_a"), col(qvCol).as("_va"))
      .join(withC.select(col("centroid_id"), col(idCol).as("_id_b"), col(qvCol).as("_vb")),
        Seq("centroid_id"))
      .filter(col("_id_a") < col("_id_b"))
      .filter(dot(col("_va"), col("_vb")) >= minDotQ)
      .select(col("_id_b").as(idCol)).distinct()
      .withColumn("_dup", lit(true))
    withC.select(col(idCol), col("centroid_id"))
      .join(dups, Seq(idCol), "left")
      .select(col(idCol), col("centroid_id"),
        coalesce(col("_dup"), lit(false)).as("semantic_dup"))
  }

  /** Bucket-bit count that keeps bucket-local pairing sub-quadratic as
    * the corpus grows: `ceil(log2 n) + 2` (min 4). With FIXED bits,
    * bucket-local all-pairs is O(n²/2^bits) — still quadratic in corpus
    * size, a scale-killer at 100 TB; growing bits with n keeps expected
    * bucket size ~constant (n/2^bits ≈ 1/4), so candidates grow
    * ~linearly. The recall a finer partition loses is restored by
    * Hamming-1 multi-probe (see [[cosineNearDup]]).
    */
  def bitsForCorpus(n: Long): Int =
    math.max(4, 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1)) + 2)

  /** Embedding-cosine near-duplicate pairs via sign-LSH buckets: pairs
    * whose sign patterns are within Hamming distance ≤ 1 (multi-probe) —
    * or exactly equal with `multiProbe = false` — and whose quantized dot
    * exceeds `minDotQ`.
    *
    * Multi-probe shape: the LEFT side explodes each vector into its own
    * bucket plus the `bits` Hamming-1 neighbor buckets; the RIGHT side
    * stays in its own bucket. A pair with sign distance ≤ 1 then matches
    * on exactly ONE probe, so the equi-join needs no candidate dedup, and
    * the join stays a plain shuffle equi-join with (bits+1)× fan-out on
    * one side only.
    *
    * Scale: pass `bits = bitsForCorpus(n)` (or larger). The rejected
    * alternative — few fixed bits and no probing — degenerates to
    * O(n²/2^bits) bucket-local all-pairs, which is still quadratic in
    * corpus size no matter the constant.
    */
  def cosineNearDup(corpus: DataFrame, idCol: String, vecCol: String,
      rawVecCol: String, bits: Int, minDotQ: Long,
      dot: (Column, Column) => Column = dotQ,
      multiProbe: Boolean = true): DataFrame = {
    val b = corpus.withColumn("_b0", signBucket(col(rawVecCol), bits))
    val probes =
      if (multiProbe)
        array(col("_b0") +: (0 until bits).map(i => col("_b0").bitwiseXOR(lit(1L << i))): _*)
      else array(col("_b0"))
    val l = b.select(col(idCol).as("id_a"), col(vecCol).as("_va"),
      explode(probes).as("bucket"))
    val r = b.select(col("_b0").as("bucket"), col(idCol).as("id_b"), col(vecCol).as("_vb"))
    l.join(r, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dot_q", dot(col("_va"), col("_vb")))
      .filter(col("dot_q") >= minDotQ)
      .select(col("id_a"), col("id_b"), col("bucket"), col("dot_q"))
  }

  /** Per-dimension outlier clipping report (winsorization bounds at
    * mean ± nSigma·σ): which components a normalization pass would clip
    * — the dead/exploding-dimension detector run before an index build.
    *
    * Determinism at any scale: the bound comparison never touches an
    * accumulated float. With integer sums S=Σq, Q=Σq², the test
    * `q < mean − nσ·σ` is evaluated as `n·q < S − nσ·√(n·Q − S²)`:
    * n·q, S, and n·Q−S² are EXACT integers (see [[dimStats]] for the
    * overflow envelope), and √ of an exact integer is correctly rounded
    * IEEE — bit-identical in the JVM and DuckDB — so every row lands on
    * the same side of the bound in both engines, partition count
    * irrelevant. (The rejected spelling — interpolated percentiles —
    * wobbles in the last ulp across engines when the interpolation
    * formula differs, flipping boundary rows.)
    *
    * Two corpus passes by necessity (global stats, then clip test) with
    * the |dim|-row stats table broadcast between them — model-sized by
    * construction, so the hint is safe (unlike a vocab table).
    */
  def outlierClip(df: DataFrame, vecCol: String,
      nSigma: Double = 2.0): DataFrame = {
    require(nSigma > 0, s"nSigma ($nSigma) must be > 0")
    val q = df
      .select(posexplode(quantize(col(vecCol))).as(Seq("dim", "_q")))
      .withColumn("_q", col("_q").cast("long"))
    val st = q.groupBy("dim")
      .agg(count(lit(1)).as("n"), sum("_q").as("s"),
        sum(col("_q") * col("_q")).as("qq"))
      .withColumn("_dev", sqrt((col("n") * col("qq") - col("s") * col("s"))
        .cast("double")))
    q.join(broadcast(st), "dim")
      .withColumn("_nq", (col("n") * col("_q")).cast("double"))
      .groupBy("dim", "n", "s", "_dev")
      .agg(
        sum(when(col("_nq") < col("s") - lit(nSigma) * col("_dev"), 1L)
          .otherwise(0L)).as("n_clip_lo"),
        sum(when(col("_nq") > col("s") + lit(nSigma) * col("_dev"), 1L)
          .otherwise(0L)).as("n_clip_hi"))
      .select(col("dim"), col("n"),
        (floor((col("s") - lit(nSigma) * col("_dev")) / col("n")
          * 1000000.0 + 0.5) / 1000000.0).as("lo_q"),
        (floor((col("s") + lit(nSigma) * col("_dev")) / col("n")
          * 1000000.0 + 0.5) / 1000000.0).as("hi_q"),
        col("n_clip_lo"), col("n_clip_hi"))
  }

  /** Per-DIMENSION statistics over a quantized embedding column — the
    * normalization/whitening model (count, min, max, mean, variance per
    * component) every serving stack computes before ANN indexing, and
    * the sanity check that catches a dead or exploding dimension before
    * it poisons an index build.
    *
    * Scale: one posexplode (×dim fan-out, the columnar spelling of a
    * vector reduce) into ONE partial-combine aggregation keyed by the
    * dimension index — exactly `dim` groups regardless of corpus size,
    * so the reduce side is model-sized and skew-free by construction.
    * All four sums run on exact integers (components quantized ×1000;
    * Σq² for n vectors at |q| ≤ 2000 overflows long only past ~10^12
    * rows/dim — beyond that, re-quantize coarser or shard the sum);
    * mean/variance are derived from the integer sums at the end
    * (E[x²] − E[x]², one double division each, round6-pinned) — never
    * accumulated in floating point, so partition count and merge order
    * cannot move a bit.
    */
  /** Int8 per-dimension quantization audit — the vector-DB storage
    * codec (scalar quantization: each dimension mapped to [0, 255] by
    * its own min/max) applied and immediately round-tripped, reporting
    * per-dimension reconstruction error. This is the decision table for
    * "can this corpus serve from int8?": a dimension whose max_err is
    * large relative to query margins needs fp16/fp32 or PQ instead.
    *
    * Exactness: components are already ×1000 integers ([[quantize]]);
    * encode = round((q−min)·255/range) and decode = min +
    * round(q8·range/255) both use the integer round-half-up identity
    * `(2a + b) div (2b)` — no float touches any value, so encode,
    * decode, and the error table are bit-identical in any engine at any
    * partitioning (the oracle replays the same arithmetic in SQL).
    * Constant dimensions (range 0) encode to 0 and decode to min —
    * error exactly 0.
    *
    * Scale: two corpus passes by necessity (global per-dim min/max,
    * then encode+audit) — the [[outlierClip]] shape: a posexplode into a
    * \|dim\|-key combine agg (skew-free, model-sized), the stats table
    * broadcast back, then a second \|dim\|-key combine agg for the
    * audit. Nothing driver-side, no windows. The payoff the audit
    * gates: 4× smaller vectors ⇒ 4× more corpus per executor-memory
    * byte in the ANN serving tier, with error bounded by range/510 µ
    * per component (unit-pinned).
    */
  def int8CodecAudit(df: DataFrame, vecCol: String): DataFrame = {
    val q = df
      .select(posexplode(quantize(col(vecCol))).as(Seq("dim", "_q")))
      .withColumn("_q", col("_q").cast("long"))
    val st = q.groupBy("dim").agg(min("_q").as("_min"), max("_q").as("_max"))
    q.join(broadcast(st), "dim")
      .withColumn("_range", col("_max") - col("_min"))
      .withColumn("_q8", when(col("_range") === 0, lit(0L))
        .otherwise(expr("(2 * (_q - _min) * 255 + _range) div (2 * _range)")))
      .withColumn("_dec", when(col("_range") === 0, col("_min"))
        .otherwise(col("_min") + expr("(2 * _q8 * _range + 255) div (2 * 255)")))
      .withColumn("_err", abs(col("_q") - col("_dec")))
      .groupBy("dim", "_min", "_max")
      .agg(count(lit(1)).as("n"),
        max("_err").as("max_err_mu"),
        sum("_err").as("sum_err_mu"))
      .select(col("dim"), col("n"), col("_min").as("min_q"),
        col("_max").as("max_q"), col("max_err_mu"), col("sum_err_mu"))
  }

  /** Per-dimension statistics table (n, min, max, Σq, Σq², mean, var)
    * over [[quantize]]d micro-unit components — the |dim|-row summary
    * that [[outlierClip]] and [[int8CodecAudit]] derive their bounds
    * from. One posexplode into a single combine agg on the skew-free
    * `dim` key; moments accumulate as exact integers (overflow
    * envelope: Σq² of ±10⁹-micro components stays inside a long up to
    * ~9·10⁶ rows per dim, and inside decimal(38,0) far beyond corpus
    * scale), with mean/var derived in double and micro-pinned only at
    * the |dim|-row tail.
    */
  def dimStats(df: DataFrame, vecCol: String): DataFrame =
    df.select(posexplode(quantize(col(vecCol))).as(Seq("dim", "_q")))
      .withColumn("_q", col("_q").cast("long"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        min("_q").as("min_q"), max("_q").as("max_q"),
        sum("_q").as("sum_q"),
        sum(col("_q") * col("_q")).as("sumsq_q"))
      .withColumn("mean_q",
        floor(col("sum_q") / col("n").cast("double") * 1000000.0 + 0.5) / 1000000.0)
      .withColumn("var_q",
        floor((col("sumsq_q") / col("n").cast("double")
            - (col("sum_q") / col("n").cast("double"))
              * (col("sum_q") / col("n").cast("double")))
          * 1000000.0 + 0.5) / 1000000.0)

  /** Deterministic Rademacher random projection (the JL / rotation step
    * of an ANN or semantic-hash pipeline): project each `dims`-vector
    * to `outDims` components with a ±1 matrix whose sign at (d, o) is
    * the parity of md5("d|o")'s first hex digit — a formula any engine
    * can replay, so the projection is portable by construction. Values
    * are quantized first ([[quantize]]) and every output component is
    * an exact integer sum: partitioning and engines cannot move a bit.
    *
    * Scale: the matrix is model-sized (dims × outDims ints) and is
    * folded into the plan as a LITERAL — no broadcast table, no join,
    * no shuffle anywhere. Each row computes all `outDims` outputs in
    * one pass over its own vector (transform + aggregate over a
    * zip_with), i.e. a pure linear scan: the cost is O(n · dims ·
    * outDims) multiply-adds map-side and nothing else. The
    * explode-join-agg spelling (n × dims rows through a shuffle) is
    * rejected — it moves dims× the data to compute the same sums.
    * Output is long format (id, out_dim, value) for downstream
    * bucketing/indexing.
    */
  def randomProjection(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Int,
      outDims: Int): DataFrame = {
    require(dims > 0 && outDims > 0, s"bad shape: $dims -> $outDims")
    val md = java.security.MessageDigest.getInstance("MD5")
    val signs: Seq[Seq[Long]] = (0 until outDims).map { o =>
      (0 until dims).map { d =>
        val firstHex = (md.digest(s"$d|$o".getBytes("UTF-8"))(0) >> 4) & 0xf
        if (firstHex % 2 == 0) 1L else -1L
      }
    }
    df.filter(size(col(vecCol)) === dims)
      .select(col(idCol), quantize(col(vecCol)).as("_q"),
        typedlit(signs).as("_m"))
      .select(col(idCol), posexplode(expr(
        """transform(_m, s ->
             aggregate(zip_with(_q, s, (x, g) -> x * g),
                       CAST(0 AS BIGINT), (a, b) -> a + b))""")))
      .select(col(idCol), col("pos").cast("int").as("out_dim"),
        col("col").as("value"))
  }

  /** Top principal component by fixed-round power iteration on the EXACT
    * integer covariance of the quantized embeddings — the whitening /
    * dominant-direction audit an embedding-curation run reads before
    * trusting cosine geometry (SemDeDup, prototypicality, ANN recall all
    * degrade when one direction hoards the variance; the var_share row is
    * the one-number check).
    *
    * Determinism discipline (the X56 kMeans / X95 PageRank pattern):
    *  - covariance is computed as n·Σxᵢxⱼ − Σxᵢ·Σxⱼ over floor-quantized
    *    milli-unit components — exact int64, no float reduction order;
    *    the n² denominator is applied by integer `div` so C entries stay
    *    scale-invariant (cov in milli², magnitude ~10⁴) and the matvec
    *    can never overflow at ANY corpus size;
    *  - each round is an exact integer matvec (Σ over 64 terms of
    *    c·v ≤ 64·10⁵·10⁶ — far inside int64) followed by an integer
    *    rescale to max|v| = vScale; both engines truncate toward zero
    *    (Spark `div`, DuckDB `//`), so rounds replay bit-identically;
    *  - the start vector is all +vScale (deterministic sign), and the
    *    report is "after `rounds` rounds" — convergence is an accuracy
    *    statement, not a semantics one.
    *
    * Scale shape: the corpus pass is ONE explode² + partial-combine agg —
    * shuffle volume is d² = 4096 rows PER PARTITION regardless of corpus
    * size (map-side combine carries the d×d partial sums), the canonical
    * exact-covariance layout. The iteration then runs entirely on the
    * d²-row model table (localCheckpoint-pinned; the corpus is never
    * touched again); nothing corpus-sized reaches the driver.
    *
    * Output: ('loading', dim, vᵢ/vScale) × d, plus ('eigenvalue_q', −1,
    * Rayleigh λ in milli² units) and ('var_share', −1, λ/trace).
    */
  def topPrincipalComponent(df: DataFrame, vecCol: String, rounds: Int = 8,
      vScale: Long = 100000L,
      materialize: DataFrame => DataFrame = _.localCheckpoint(eager = true),
      localFinishCap: Long = LocalFinish.ModelRows)
      : DataFrame =
    pcaFromStats(covStats(df, vecCol), rounds, vScale, materialize,
      localFinishCap)

  /** The covariance sufficient statistics (n, Σxᵢ, Σxᵢxⱼ) of a
    * quantized-vector frame — a MONOID: stats of a union are the
    * element-wise sums of the parts' stats, exactly. This is what makes
    * [[topPrincipalComponentIncremental]] possible, and what a
    * production run persists nightly (the X107 incremental-aggregate
    * discipline applied to the PCA family).
    */
  def covStats(df: DataFrame, vecCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val q = df.select(quantize(col(vecCol)).as("qv"))
    val nDf = q.agg(count(lit(1)).as("n"))
    val sx = q.select(posexplode(col("qv")).as(Seq("i", "xi")))
      .groupBy("i").agg(sum("xi").as("sxi"))
    val pairs = q.select(col("qv"), posexplode(col("qv")).as(Seq("i", "xi")))
      .select(col("i"), col("xi"), posexplode(col("qv")).as(Seq("j", "xj")))
    val sxx = pairs.groupBy("i", "j").agg(sum(col("xi") * col("xj")).as("sxx"))
    (nDf, sx, sxx)
  }

  /** Incremental top-PC: merge the BASE corpus's persisted covariance
    * stats with a nightly batch's stats (pure monoid addition on the
    * d-row / d²-row stat tables — the base embeddings are never
    * re-read), then run the identical fixed-round iteration. Output is
    * bit-identical to [[topPrincipalComponent]] over the union BY
    * CONSTRUCTION of the monoid (n·Σxx − Σx·Σx only consumes the merged
    * sums), which the split-oblivious oracle and PcaPowerSpec pin.
    */
  def topPrincipalComponentIncremental(base: DataFrame, batch: DataFrame,
      vecCol: String, rounds: Int = 8, vScale: Long = 100000L,
      materialize: DataFrame => DataFrame = _.localCheckpoint(eager = true),
      localFinishCap: Long = LocalFinish.ModelRows)
      : DataFrame = {
    val (nA, sxA, sxxA) = covStats(base, vecCol)
    val (nB, sxB, sxxB) = covStats(batch, vecCol)
    val n = nA.unionAll(nB).agg(sum("n").as("n"))
    val sx = sxA.unionAll(sxB).groupBy("i").agg(sum("sxi").as("sxi"))
    val sxx = sxxA.unionAll(sxxB).groupBy("i", "j").agg(sum("sxx").as("sxx"))
    pcaFromStats((n, sx, sxx), rounds, vScale, materialize, localFinishCap)
  }

  private def pcaFromStats(stats: (DataFrame, DataFrame, DataFrame),
      rounds: Int, vScale: Long, materialize: DataFrame => DataFrame,
      localFinishCap: Long = LocalFinish.ModelRows)
      : DataFrame = {
    require(rounds >= 1, s"rounds ($rounds) must be >= 1")
    val (nDf, sx, sxx) = stats
    val mat = materialize(
      sxx.join(broadcast(sx), "i")
        .join(broadcast(sx.select(col("i").as("j"), col("sxi").as("sxj"))), "j")
        .crossJoin(broadcast(nDf))
        .select(col("i"), col("j"),
          expr("(n * sxx - sxi * sxj) div (n * n)").as("c")))
    // LOCAL FINISH (r16, the Als/Topic discipline): the corpus pass is
    // the partial-combine covariance above — that stays distributed at
    // any size. The power iteration then runs on the d²-row MODEL
    // table, but the unrolled loop pays ~60 barrier jobs of scheduler
    // overhead (profiled 4.5 s warm for llm_pca_incremental at sf0.1,
    // data work ≪ 1 s). Below the cap ONE task replays the identical
    // integer matvecs: same Long sums, same toward-zero `div` rescale
    // and Rayleigh/round6 readout. PcaPowerSpec pins local ==
    // distributed.
    if (LocalFinish.fits("VectorOps.pcaFromStats", localFinishCap)(mat.count()))
      return localPcaIteration(mat, rounds, vScale)
    var v = materialize(sx.select(col("i").as("j"), lit(vScale).as("vv")))
    def matvec(vt: DataFrame): DataFrame =
      mat.join(vt, "j").groupBy("i").agg(sum(col("c") * col("vv")).as("w"))
    (1 to rounds).foreach { _ =>
      val w = matvec(v)
      val m = w.agg(max(abs(col("w"))).as("m"))
      v = materialize(w.crossJoin(broadcast(m))
        .select(col("i").as("j"), expr(s"(w * ${vScale}L) div m").as("vv")))
    }
    val rq = materialize(
      matvec(v).join(v.select(col("j").as("i"), col("vv")), "i")
        .agg(sum(col("vv") * col("w")).as("num"),
          sum(col("vv") * col("vv")).as("den")))
    val trace = mat.filter(col("i") === col("j")).agg(sum("c").as("tr"))
    val loadings = v.select(lit("loading").as("stat"),
      col("j").cast("long").as("dim"),
      TextOps.round6(col("vv").cast("double") / lit(vScale.toDouble)).as("value"))
    val summary = rq.crossJoin(broadcast(trace)).select(
      array(
        struct(lit("eigenvalue_q").as("stat"), lit(-1L).as("dim"),
          TextOps.round6(col("num").cast("double") / col("den").cast("double"))
            .as("value")),
        struct(lit("var_share").as("stat"), lit(-1L).as("dim"),
          TextOps.round6(col("num").cast("double") /
            (col("den").cast("double") * col("tr").cast("double"))).as("value")))
        .as("rows"))
      .select(explode(col("rows")).as("r"))
      .select(col("r.stat"), col("r.dim"), col("r.value"))
    loadings.unionByName(summary).orderBy("stat", "dim")
  }

  /** One-task replay of [[pcaFromStats]]'s fixed-round power iteration
    * + readout on the d²-row covariance table: identical integer
    * matvecs (Long sums), identical toward-zero rescale divisions
    * (Scala Long `/` ≡ Spark `div` ≡ DuckDB `//`), identical Rayleigh
    * quotient and floor-round6 display math. */
  private def localPcaIteration(mat: DataFrame, rounds: Int, vScale: Long)
      : DataFrame = {
    val spark = mat.sparkSession
    import spark.implicits._
    val out = mat.select(col("i").cast("int"), col("j").cast("int"),
        col("c").cast("long"))
      .as[(Int, Int, Long)].coalesce(1).mapPartitions { it =>
        val rows = it.toArray
        val dims = rows.map(_._1).distinct.sorted
        val idx = dims.zipWithIndex.toMap
        val d = dims.length
        val c = Array.ofDim[Long](d, d)
        rows.foreach { case (i, j, cc) => c(idx(i))(idx(j)) = cc }
        def matvec(v: Array[Long]): Array[Long] = {
          val w = new Array[Long](d)
          var i = 0
          while (i < d) {
            var s = 0L
            var j = 0
            while (j < d) { s += c(i)(j) * v(j); j += 1 }
            w(i) = s
            i += 1
          }
          w
        }
        val v = Array.fill(d)(vScale)
        var r = 1
        while (r <= rounds) {
          val w = matvec(v)
          var m = 0L
          var i = 0
          while (i < d) { m = math.max(m, math.abs(w(i))); i += 1 }
          i = 0
          while (i < d) { v(i) = (w(i) * vScale) / m; i += 1 }
          r += 1
        }
        val w = matvec(v)
        var num = 0L; var den = 0L; var tr = 0L
        var i = 0
        while (i < d) {
          num += v(i) * w(i); den += v(i) * v(i); tr += c(i)(i); i += 1
        }
        def r6(x: Double): Double = math.floor(x * 1000000.0 + 0.5) / 1000000.0
        val loadings = (0 until d).iterator.map { ii =>
          ("loading", dims(ii).toLong, r6(v(ii).toDouble / vScale.toDouble))
        }
        loadings ++ Iterator(
          ("eigenvalue_q", -1L, r6(num.toDouble / den.toDouble)),
          ("var_share", -1L, r6(num.toDouble / (den.toDouble * tr.toDouble))))
      }
    out.toDF("stat", "dim", "value").orderBy("stat", "dim")
  }
}
