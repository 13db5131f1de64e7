package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Entity resolution: edit-distance join of a dirty feed against a
  * master table — the record-linkage step of any pipeline ingesting
  * third-party catalogs, crawl titles, or OCR'd text, where keys
  * arrive with single-character typos. No reference counterpart
  * (SURVEY §2.6); north-star extension surface.
  *
  * The all-pairs spelling (`probe × master` + levenshtein filter) is a
  * cross product — quadratic in corpus and rejected by construction.
  * Instead: the PassJoin two-segment pigeonhole (Li et al., VLDB'11).
  * Split each MASTER string s (length m) into its left half
  * `s[1..⌈m/2⌉]` and right half `s[⌈m/2⌉+1..m]`. A single edit
  * (substitution, deletion, or insertion) touches at most one half, so
  * for every pair within distance 1 either
  *   - the left half survives intact as the probe's PREFIX, or
  *   - the right half survives intact as the probe's SUFFIX
  * (if the edit position p ≤ ⌈m/2⌉ the right half is untouched and
  * alignment shifts it to the probe's end; if p > ⌈m/2⌉ the left half
  * is untouched in place — one of the two always holds). The probe
  * (length n) cannot know m, but distance ≤ 1 forces m ∈ {n−1, n, n+1},
  * so it emits at most six candidate keys — (side, segment, m) for each
  * hypothetical m — and the join is a plain EQUI-join on that key,
  * candidates bounded by true segment collisions. The confirm step runs
  * `levenshtein(s, t, 1)` (the threshold form: early-exits the DP once
  * the band exceeds 1, O(n) not O(n²) per candidate).
  *
  * 100 TB design: master and probe shuffle once each on ~half-length
  * string keys (constant ×2 / ×6 fan-out, no explode-by-data);
  * verification cost is |true collisions|, not |probe|·|master|. Skewed
  * segments (a million names sharing "small") stay bounded because the
  * key includes the hypothesized length AND the side; residual skew is
  * AQE's to split. The blocking is LOSSLESS for distance ≤ 1 — proven
  * against a brute-force oracle (`llm_fuzzy_join`), not asserted.
  */
object EntityResolution {

  /** All (probeId, masterId, dist) pairs with edit distance ≤ 1 between
    * `probeName` and `masterName`. Exact — the pigeonhole generates a
    * superset of the true pairs and the threshold-levenshtein confirm
    * keeps exactly those within distance 1.
    */
  def editDistance1Join(
      master: DataFrame,
      probe: DataFrame,
      masterId: String,
      masterName: String,
      probeId: String,
      probeName: String): DataFrame =
    editDistance1Candidates(master, probe, masterId, masterName,
      probeId, probeName)
      // Verify on the STRIPPED COMPLEMENTS, not the full strings: the
      // join key equality makes the matched segment a literal common
      // prefix (side P) / common suffix (side S) of both strings, and
      // stripping a common prefix or suffix preserves Levenshtein
      // distance exactly (the greedy-match lemma: lev(xu, xv) =
      // lev(u, v)), so `dist` is bit-identical to the full-string
      // verify at ~half the banded-DP char work per candidate — the
      // verify is the whole cost of this operator (sf0.1 measured
      // 40.9M candidate pairs from 20k×12k part names). The complement
      // substrings are precomputed ONCE per key-table row (|keys| ≈
      // |master|·2 + |probe|·6 rows) rather than re-sliced per
      // candidate pair — the r16 allocation-pressure fix: at 32
      // concurrent verify tasks the two per-pair substring() allocs
      // (2 × 40.9M UTF8Strings) were pure GC feed, and dropping the
      // full-name columns from the join halves the candidate row.
      .withColumn("dist", expr("levenshtein(_mcomp, _pcomp, 1)"))
      .filter(col("dist") >= 0 && col("dist") <= 1)
      .select(col("_pid").as(probeId), col("_mid").as(masterId),
        col("dist"))
      .dropDuplicates(probeId, masterId)

  /** The pre-confirm candidate pairs (one row per distinct segment-key
    * collision — a (probe, master) pair colliding on several keys
    * appears several times; the confirm step dedups). Exposed so the
    * scale artifact (`ScaleBench fuzzy_join_growth`) can measure candidate growth
    * directly — the quantity the pigeonhole bounds.
    */
  def editDistance1Candidates(
      master: DataFrame,
      probe: DataFrame,
      masterId: String,
      masterName: String,
      probeId: String,
      probeName: String): DataFrame = {
    // Master side: its own two halves, tagged with its own length.
    // Each key row carries its VERIFY COMPLEMENT (`comp` = the other
    // half for side P, the left half for side S) instead of the full
    // string: seg + comp partition the name, so the row is no wider,
    // and the confirm step's per-pair substring() calls disappear.
    val m = master.select(
      col(masterId).as("_mid"), col(masterName).as("_mname"),
      length(col(masterName)).as("_ml"))
    val mKeys = m.select(col("_mid"), col("_ml"),
      explode(array(
        struct(lit("P").as("side"),
          expr(s"substring(_mname, 1, (_ml + 1) div 2)").as("seg"),
          col("_ml").as("m"),
          expr(s"substring(_mname, (_ml + 1) div 2 + 1)").as("_mcomp")),
        struct(lit("S").as("side"),
          expr(s"substring(_mname, (_ml + 1) div 2 + 1, _ml)").as("seg"),
          col("_ml").as("m"),
          expr(s"substring(_mname, 1, (_ml + 1) div 2)").as("_mcomp"))))
        .as("k"))
      .select(col("_mid"), col("k.*"))
    // Probe side: for each hypothetical master length m ∈ {n−1, n, n+1},
    // its prefix of ⌈m/2⌉ chars and suffix of ⌊m/2⌋ chars; the verify
    // complement is the remainder on the opposite end.
    val p = probe.select(
      col(probeId).as("_pid"), col(probeName).as("_pname"),
      length(col(probeName)).as("_pl"))
    val pKeys = p.select(col("_pid"),
      explode(flatten(expr(
        """transform(array(_pl - 1, _pl, _pl + 1), m ->
             CASE WHEN m >= 2 THEN array(
               named_struct('side', 'P',
                 'seg', substring(_pname, 1, (m + 1) div 2), 'm', m,
                 '_pcomp', substring(_pname, (m + 1) div 2 + 1)),
               named_struct('side', 'S',
                 'seg', substring(_pname, _pl - m div 2 + 1, m div 2),
                 'm', m,
                 '_pcomp', substring(_pname, 1, _pl - m div 2)))
             ELSE CAST(array()
                  AS array<struct<side:string,seg:string,m:int,_pcomp:string>>)
             END)""")))
        .as("k"))
      .select(col("_pid"), col("k.*"))
    // Spread the verify stage: both key tables typically read one
    // small scan split each, and with one side broadcast the join
    // output inherits the STREAMED side's partitioning — measured at
    // sf0.1 as the entire 40.9M-pair levenshtein verify running in a
    // single task (llm_fuzzy_join 24.0 s). A round-robin repartition
    // of each key table to the session's parallelism is O(|keys|)
    // rows of half-length strings — noise next to the verify — and
    // lets every core carry candidates (guide §2.5/§2.6: the join
    // fan-out per key-table row is bounded by the hottest segment, so
    // row balance ≈ output balance).
    val par = master.sparkSession.sparkContext.defaultParallelism * 2
    mKeys.repartition(par).join(pKeys.repartition(par),
      Seq("side", "seg", "m"))
  }

  /** Best-match resolution: one row per probe record (LEFT semantics —
    * unresolved records keep null master/dist), picking the minimum
    * distance and breaking ties on the smallest master id. One
    * partial-combining `min_by` aggregate over the confirmed pairs.
    */
  def resolveBest(
      pairs: DataFrame,
      probe: DataFrame,
      probeId: String,
      masterId: String): DataFrame = {
    val best = pairs.groupBy(probeId).agg(
      min_by(col(masterId), struct(col("dist"), col(masterId)))
        .as(masterId),
      min(col("dist")).as("dist"))
    probe.select(col(probeId)).distinct()
      .join(best, Seq(probeId), "left")
  }
}
