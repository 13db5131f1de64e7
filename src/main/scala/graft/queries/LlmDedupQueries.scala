package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.{EvalOps, EventOps, FeatureOps, Multimodal, TextOps, VectorOps}

/** Dedup slice of [[LlmSurface]] — exact/near/fuzzy dedup, suffix structures, record linkage.
  *
  * r14 mechanical split, ZERO behavior change: query lambdas and their
  * DuckDB oracle SQL only. Every shared helper, constant, and CTE
  * generator stays in [[LlmSurface]] (reached via the wildcard import
  * below, which inner-scope-shadows functions._ exactly like the
  * original enclosing-object scope did).
  */
private[queries] object LlmDedupQueries {

  import LlmSurface._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- exact dedup: sha256 content hash, keep-first --------------------
    "llm_exact_dedup" -> ((s, dir) => {
      TextOps.exactDedup(Tables(s, dir, "documents"), "text", "doc_id")
        .select("doc_id", "content_sha", "n_copies")
        .orderBy("doc_id")
    }),

    // ---- fingerprint dedup: order/repetition-invariant word-set key ------
    // Keep-first = min_by argmin in ONE hash aggregation (map-side partial
    // combine, no per-key sort) — same form as TextOps.exactDedup; the
    // row_number-window spelling shuffles and sorts every row.
    "llm_fingerprint_dedup" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .withColumn("wordset_fp", TextOps.wordsetFingerprint(col("text")))
        .withColumn("minhash_fp", TextOps.minWordHash(col("text")))
        .groupBy("wordset_fp")
        .agg(
          min_by(struct(col("doc_id"), col("minhash_fp")), col("doc_id")).as("_f"),
          count(lit(1)).as("n_copies"))
        .select(col("_f.doc_id").as("doc_id"), col("wordset_fp"),
          col("_f.minhash_fp").as("minhash_fp"), col("n_copies"))
        .orderBy("doc_id")
    }),

    // ---- persisted dedup-index roundtrip ---------------------------------
    // X53 claims "base signatures persistable" — this EXECUTES that
    // path: write the base corpus's content-sha index to parquet, read
    // it back from disk, and check tonight's batch against the WRITTEN
    // files. The oracle reads the same parquet (k1-style engine
    // roundtrip), so writer fidelity and membership logic are both
    // pinned. Base = 3/4 of the corpus plus every 20th batch doc
    // ("yesterday already ingested some of tonight's feed" — the
    // natural dups don't cross the split), so both classes live.
    "llm_sig_roundtrip" -> ((s, dir) => {
      val out = s"/tmp/graft_sig_out/${new java.io.File(dir).getName}"
      val docs = Tables(s, dir, "documents")
      docs.filter(col("doc_id") % 4 =!= 0 || col("doc_id") % 20 === 0)
        .select(col("doc_id"), sha2(col("text"), 256).as("content_sha"))
        .coalesce(1).write.mode("overwrite").parquet(out)
      val baseShas = s.read.parquet(out)
        .select(col("content_sha").as("_b")).distinct()
      // tonight's batch: the quarter held out of the base (the %20
      // overlap means some of it is already indexed — known_exact=true)
      docs.filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), sha2(col("text"), 256).as("content_sha"))
        .join(baseShas, col("content_sha") === col("_b"), "left")
        .select(col("doc_id"), col("content_sha"),
          col("_b").isNotNull.as("known_exact"))
        .orderBy("doc_id")
    }),

    // ---- corpus snapshot diff (incremental-build change table) -----------
    // What changed between corpus v1 and v2? added / removed / changed /
    // unchanged per doc via one full-outer join of content-sha tables on
    // the near-unique id — the decision input for incremental dedup and
    // index maintenance. v2 is a deterministic mutation of v1 (both
    // engines): every 17th doc edited, every 23rd dropped, a clone of
    // every 29th added under a new id.
    "llm_snapshot_diff" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val v1 = docs.select(col("doc_id"), sha2(col("text"), 256).as("_s1"))
      val v2base = docs.filter(col("doc_id") % 23 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 17 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      val added = docs.filter(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" new")).as("text"))
      val v2 = v2base.union(added)
        .select(col("doc_id"), sha2(col("text"), 256).as("_s2"))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("_s1").isNull, "added")
            .when(col("_s2").isNull, "removed")
            .when(col("_s1") =!= col("_s2"), "changed")
            .otherwise("unchanged").as("status"))
        .orderBy("doc_id")
    }),

    // ---- MinHash-LSH near-duplicate pairs --------------------------------
    // Candidates come from a band-key EQUI-join (12 hashes, 4 bands × 3
    // rows → ~0.63 Jaccard S-curve midpoint), then exact-Jaccard verify.
    // The all-pairs O(n²) similarity join is rejected by construction.
    "llm_near_dup" -> ((s, dir) => {
      // repartitionInput: the test corpus is one small parquet file (one
      // scan split), which would serialize the shingle explode onto a
      // single task — the caller knows its input shape, the operator
      // doesn't guess (TextOps.nearDupPairs scaladoc).
      TextOps.nearDupPairs(Tables(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numBands = 4, rowsPerBand = 3, threshold = 0.5,
        repartitionInput = true)
        .orderBy("doc_a", "doc_b")
    }),

    // ---- EXACT set-similarity join (PPJoin prefix filter) ----------------
    // The no-false-negatives complement to llm_near_dup: candidates are
    // an equi-join on rare-first prefix tokens (provably complete for
    // Jaccard >= 0.5), then exact verification. The oracle is the
    // brute-force all-pairs join — equality proves the prefix filter
    // lossless on this corpus.
    "llm_set_sim_join" -> ((s, dir) => {
      // materialize = localCheckpoint: each shared state (per-doc set
      // table, ordered-set table) is computed ONCE — ReusedExchange only
      // dedupes the shuffle write, so without it every consumer re-ran
      // the post-shuffle collect_list aggregation (r15: 18 s min / 90 s
      // median at c32). repartitionInput: the corpus is one scan split.
      TextOps.setSimJoin(Tables(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, threshold = 0.5,
        materialize = _.localCheckpoint(true), repartitionInput = true)
        .orderBy("doc_a", "doc_b")
    }),

    // ---- LSH recall evaluation (exact ground truth × banded LSH) ---------
    // The tuning loop every LSH deployment needs: which TRUE pairs (from
    // the lossless prefix-filter join) did the banded MinHash find?
    // Per-pair detail rows so recall regressions are attributable to
    // specific jaccard bands, not just a summary ratio. Both sides are
    // candidate-bounded equi-joins; in production they'd share one
    // persisted signature table via the materialize hooks.
    "llm_lsh_recall" -> ((s, dir) => {
      // one shared minhash-state pass feeds BOTH the exact prefix-filter
      // side (its ordered sets are derived from the state's shingle
      // sets) and the banded-LSH side — previously each pipeline
      // re-shingled the corpus from scratch (TextOps.lshRecall scaladoc).
      TextOps.lshRecall(Tables(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numBands = 4, rowsPerBand = 3, threshold = 0.5,
        materialize = _.localCheckpoint(true), repartitionInput = true)
        .orderBy("doc_a", "doc_b")
    }),

    // ---- incremental dedup: new batch vs existing base corpus ------------
    // The production shape: dedup tonight's crawl against the corpus we
    // already have. Exact dups via content-sha equi-join; near dups via
    // BIPARTITE banded LSH (batch bands × base bands) — candidate work
    // scales with batch collisions, never |corpus|².
    "llm_incremental_dedup" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val batch = docs.filter(col("doc_id") % 4 === 0)
      val base = docs.filter(col("doc_id") % 4 =!= 0)
      TextOps.incrementalDedup(batch, base, "doc_id", "text",
        repartitionInput = true)
        .orderBy("doc_id")
    }),

    // ---- winnowing (MOSS) fingerprint per document -----------------------
    "llm_winnow_fp" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), TextOps.words(col("text")).as("_w"))
      d.select(col("doc_id"),
        TextOps.winnowFingerprint(col("_w"), shingleN = 3, windowK = 4).as("winnow_fp"))
        .withColumn("n_copies",
          count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("winnow_fp")))
        .orderBy("doc_id")
    }),

    // ---- 60-bit SimHash per document -------------------------------------
    "llm_simhash" -> ((s, dir) => {
      TextOps.simHash(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---- exact substring dedup (Lee et al. 2022): cross-doc k-token spans
    // The synthetic corpus shares no long spans between non-identical
    // docs, so every 25th doc gets the SAME 18-word boilerplate appended
    // (both engines) — each then carries 9 shared 10-token windows while
    // staying a whole-doc NON-duplicate: exactly the leakage this
    // operator exists to catch and MinHash/SimHash/chunk-sha miss.
    "llm_substring_dedup" -> ((s, dir) => {
      TextOps.substringDupStats(boilerplatedDocs(s, dir), "doc_id", "aug", spanTokens = 10)
        .orderBy("doc_id")
    }),

    // ---- suffix-array longest repeats (Lee et al. 2022, ExactSubstr) -----
    // The true suffix-array form of substring dedup: prefix-doubling
    // ranks (O(log maxDocLen) shuffle rounds over (doc, pos, rank) rows,
    // suffixes never materialized), SA adjacency, LCP by binary descent
    // over the stored rank tables, left-maximal filter, top-k by LCP.
    // Unlike the fixed-window family above, no span length is chosen
    // before the scan — this answers "what ARE the longest repeats",
    // which is how Lee et al. pick what to excise. Runs on the
    // boilerplated corpus so the planted 18-word notice dominates the
    // top pairs; natural corpus repeats fill the rest. The oracle
    // materializes and sorts the O(n·len) suffix lists — viable only at
    // test scale, which is exactly the point of the distributed build.
    "llm_suffix_repeats" -> ((s, dir) => {
      graft.operators.SuffixArray.longestRepeats(
        boilerplatedDocs(s, dir), "doc_id", "aug", topK = 40, minTokens = 5)
    }),

    // ---- SA-driven duplicate-span excision list --------------------------
    // The deliverable of Lee et al.'s ExactSubstr dedup: per-doc maximal
    // spans of ≥10 tokens whose content occurs elsewhere (any doc,
    // including the doc itself). Spark derives spans from SA adjacency
    // (a position is duplicated iff an SA-neighbor suffix shares ≥10
    // tokens); the oracle recomputes them by the independent L-gram
    // method (duplicated-window flags → islands) — two different
    // algorithms required to agree on the rows. Planted boilerplate
    // surfaces as one 18-token span per injected doc.
    "llm_suffix_dup_spans" -> ((s, dir) => {
      graft.operators.SuffixArray.dupSpans(
        boilerplatedDocs(s, dir), "doc_id", "aug", spanTokens = 10)
    }),

    // ---- shared-build SA composite: repeats + excision in ONE pass -------
    // The production shape of the two queries above (X190): the rank
    // tables, SA adjacency and LCP descent are built ONCE (gated at the
    // smaller of the two thresholds — every lcp ≥ 10 pair survives a
    // level-4 gate, so the span half loses nothing), then BOTH
    // deliverables derive from the same materialized pairs frame: the
    // top-40 left-maximal repeats (tagged 'repeat') and the ≥10-token
    // excision spans (tagged 'span'), union'd with a part discriminator.
    // Until r10 this sharing claim lived in a comment; now it is an
    // executed, oracle-checked query — and the bench row prices it at
    // roughly HALF the cost of running the pair separately, which is
    // the number a 100 TB curation run cares about (one corpus-scale
    // build, k deliverables).
    "llm_suffix_shared" -> ((s, dir) => {
      import graft.operators.SuffixArray
      val docs = boilerplatedDocs(s, dir)
      val toks = SuffixArray.tokens(docs, "doc_id", "aug")
      // lcpPairs is the two-regime build (one-task local finish under
      // the token cap, rank rounds + descent above it); both
      // deliverables still derive from the ONE pairs frame.
      val (pairs, free) = SuffixArray.lcpPairs(docs, "doc_id", "aug", minTokens = 5)
      val repeats = SuffixArray.leftMaxTopK(pairs, toks, topK = 40, minTokens = 5)
        .select(lit("repeat").as("part"), col("doc_a").as("id_a"), col("pos_a"),
          col("doc_b").as("id_b"), col("pos_b"),
          col("lcp_tokens").as("n_tokens"))
      val spans = SuffixArray.spansFromPairs(pairs, "doc_id", spanTokens = 10)
        .select(lit("span").as("part"), col("doc_id").as("id_a"),
          col("span_start").as("pos_a"), lit(null).cast("long").as("id_b"),
          lit(null).cast("int").as("pos_b"), col("span_tokens").as("n_tokens"))
      val out = repeats.unionByName(spans)
        .orderBy("part", "id_a", "pos_a", "id_b", "pos_b")
        .localCheckpoint(true)
      free()
      out
    }),

    // ---- incremental ExactSubstr excision (probe-vs-index, X191) ---------
    // The nightly-batch form of llm_suffix_dup_spans: docs split into a
    // persisted BASE corpus (doc_id % 4 != 1) and an arriving BATCH
    // (doc_id % 4 == 1 — includes every 4th boilerplate carrier, so
    // cross base↔batch duplicates exist); the excision list for the
    // UNION is computed by probing K-gram postings (the level-K
    // projection of the SA index — the only slice a fixed-K deliverable
    // needs, see SuffixArray.incrementalDupSpans scaladoc for why
    // any-length repeats still require the rebuild) instead of
    // rebuilding the suffix array. The oracle replays the FULL-REBUILD
    // L-gram algorithm on the union — incremental ≡ full recompute,
    // the X119 equivalence pattern.
    "llm_suffix_incremental" -> ((s, dir) => {
      val d = boilerplatedDocs(s, dir)
      graft.operators.SuffixArray.incrementalDupSpans(
        d.filter(col("doc_id") % 4 =!= 1), d.filter(col("doc_id") % 4 === 1),
        "doc_id", "aug", spanTokens = 10)
    }),

    // ---- line-level dedup (RefinedWeb/CCNet): drop cross-doc shared lines
    // The pass whole-doc dedup can't do (the docs differ) and offset-bound
    // chunk shas miss (the shared line floats per doc). Corpus text is
    // single-line, so boilerplate header/footer LINES are planted (both
    // engines); duplicate doc bodies also collapse — same rule, no
    // special case. Shuffles carry hashes and positions, never line text.
    "llm_line_dedup" -> ((s, dir) => {
      val d = Tables(s, dir, "documents").withColumn("aug",
        concat(
          when(col("doc_id") % 10 === 0, lit(HeaderLine + "\n")).otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 15 === 0, lit("\n" + FooterLine)).otherwise(lit(""))))
      TextOps.lineDedup(d, "doc_id", "aug").orderBy("doc_id")
    }),

    // ---- maximal duplicate spans: the excisable form of the above --------
    // Gaps-and-islands merge of consecutive flagged windows into one row
    // per maximal run — per-DOC windows only, so the sort parallelizes
    // by document. Injected docs surface their boilerplate as a single
    // 18-token span; whole-doc duplicates surface as one doc-length run.
    "llm_dup_span_runs" -> ((s, dir) => {
      TextOps.maximalDupSpans(boilerplatedDocs(s, dir), "doc_id", "aug", spanTokens = 10)
        .orderBy("doc_id", "span_start")
    }),

    // ---- benchmark decontamination: n-gram overlap vs an eval set --------
    // The GPT-3/PaLM decontamination rule: a training doc sharing any
    // long-enough n-gram with a held-out benchmark is contaminated.
    // Benchmark stand-in = every 50th doc; overlap via a distinct-shingle
    // EQUI-join on the 5-gram text (rare key — join fan-out is bounded by
    // real contamination, never corpus × benchmark).
    "llm_decontaminate" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      def shingled(d: org.apache.spark.sql.DataFrame, id: String) = d
        .select(col("doc_id").as(id),
          explode(TextOps.wordShingles(col("text"), 5)).as("s"))
        .distinct()
      val corpus = shingled(docs, "doc_id")
      val bench = shingled(docs.filter(col("doc_id") % 50 === 0), "bench_id")
      val overlap = corpus.join(bench, "s")
        .filter(col("doc_id") =!= col("bench_id"))
        .groupBy("doc_id")
        .agg(countDistinct("s").as("n_shared"),
          countDistinct("bench_id").as("n_bench_docs"))
      docs.select("doc_id").join(overlap, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          coalesce(col("n_bench_docs"), lit(0L)).as("n_bench_docs"))
        .withColumn("contaminated", col("n_shared") > 0)
        .orderBy("doc_id")
    }),

    // ---- SimHash near-dup pairs: pigeonhole chunk blocking ---------------
    // Hamming <= 3 over 4 chunks of 15 bits: a qualifying pair must agree
    // exactly on >=1 chunk, so candidates come from an equi-join on
    // (chunk index, chunk value) — never an all-pairs scan.
    "llm_simhash_near_dup" -> ((s, dir) => {
      TextOps.simHashNearDup(Tables(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3, chunks = 4)
        .orderBy("doc_a", "doc_b")
    }),

    // ---- SimHash near-dup via COMBINATORIAL blocking (Manku WWW'07) -------
    // Same pair semantics as llm_simhash_near_dup through the
    // web-scale blocking: buckets keyed on 3-of-6 chunk subsets (30-bit
    // keys, 20 tables) instead of single 15-bit chunks, so random
    // collisions stay ~n²/2^30 instead of n²/2^15 — the configuration
    // that holds past ~10⁵ docs (`ScaleBench neardup_scale` records the
    // single-chunk cliff). The oracle here is BRUTE-FORCE all-pairs
    // Hamming — losslessness of the subset blocking proven against
    // ground truth cross-engine, not against another blocking scheme.
    "llm_simhash_blocked" -> ((s, dir) => {
      TextOps.simHashNearDupBlocked(Tables(s, dir, "documents"),
        "doc_id", "text", maxHamming = 3, chunks = 6)
        .orderBy("doc_a", "doc_b")
    }),

    // ---- fuzzy entity resolution: dirty feed vs master (PassJoin) --------
    // Record linkage under single-character typos: a dirty feed derived
    // deterministically from part names (one deletion / exact copy /
    // two-char substitution per id class) resolves back to the master
    // catalog through the two-segment pigeonhole equi-join
    // (EntityResolution.editDistance1Join) + threshold-levenshtein
    // confirm + min_by best-match. The oracle is BRUTE-FORCE all-pairs
    // levenshtein — the blocking is proven lossless against ground
    // truth, not against another blocking. LEFT semantics: the
    // distance-2 class resolves to null (no match within threshold).
    "llm_fuzzy_join" -> ((s, dir) => {
      val master = Tables(s, dir, "part").select("p_partkey", "p_name")
      val delPos = // deletion point ≥ 6, derived from the id — engine-portable
        "CAST(p_partkey % greatest(length(p_name) - 6, 1) AS INT)"
      val dirty = master.filter(col("p_partkey") % 5 <= 2).select(
        col("p_partkey").as("dirty_id"),
        when(col("p_partkey") % 5 === 0,
          expr(s"""concat(substring(p_name, 1, 5 + $delPos),
                   substring(p_name, 7 + $delPos, length(p_name)))"""))
          .when(col("p_partkey") % 5 === 1, col("p_name"))
          .otherwise(concat(
            expr("substring(p_name, 1, length(p_name) - 2)"), lit("00")))
          .as("dirty_name"))
      val pairs = graft.operators.EntityResolution.editDistance1Join(
        master, dirty, "p_partkey", "p_name", "dirty_id", "dirty_name")
      graft.operators.EntityResolution
        .resolveBest(pairs, dirty, "dirty_id", "p_partkey")
        .select(col("dirty_id"), col("p_partkey").as("master_id"),
          col("dist"))
        .orderBy("dirty_id")
    }),

    // ---- full-corpus dedup decision table --------------------------------
    // The end-to-end deliverable: one row PER CORPUS DOC with its exact
    // keep-first keeper (content sha), its near-dup cluster
    // representative (SimHash pairs -> alternating large/small-star CC —
    // exact copies share all chunks, so they land in their keeper's
    // cluster automatically), and the final keep flag (doc == its
    // cluster rep). Exercises the O(log n) star CC under an oracle;
    // llm_dup_groups covers the propagation variant.
    "llm_dedup_corpus" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), sha2(col("text"), 256).as("_h"))
      val pairs = TextOps.simHashNearDup(Tables(s, dir, "documents"),
        "doc_id", "text", maxHamming = 3, chunks = 4)
      val labels = graft.operators.ConnectedComponents
        .alternatingStars(pairs, "doc_a", "doc_b")
        .withColumnRenamed("node", "doc_id")
      val keeper = docs.groupBy("_h").agg(min("doc_id").as("exact_keeper"))
      docs.join(keeper, "_h")
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"), col("exact_keeper"),
          coalesce(col("label"), col("doc_id")).as("group_rep"))
        .withColumn("keep", col("group_rep") === col("doc_id"))
        .orderBy("doc_id")
    }),

    // ---- leakage-safe train/val/test split (group-aware) -----------------
    // The plain md5 split (llm_train_split) leaks at evaluation time:
    // near-duplicate docs hash independently, so the val/test sets
    // contain paraphrases of training docs and eval scores inflate. Split
    // on the DUP-GROUP key instead: group_rep from the same SimHash+CC
    // machinery as llm_dedup_corpus (exact copies share a simhash, so
    // they fold into the same component), then one md5 bucket per GROUP —
    // every member inherits its group's split by construction, which the
    // spec pins as "no group straddles splits". Membership stays a pure
    // function of (salt, corpus content); the corpus-scale cost is the
    // dedup pass itself, which a pipeline runs anyway — the split adds
    // one |docs|-row projection.
    "llm_leakage_split" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      val pairs = TextOps.simHashNearDup(Tables(s, dir, "documents"),
        "doc_id", "text", maxHamming = 3, chunks = 4)
      val labels = graft.operators.ConnectedComponents
        .alternatingStars(pairs, "doc_a", "doc_b")
        .withColumnRenamed("node", "doc_id")
      docs.join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("group_rep"))
        .withColumn("bucket", expr("cast(conv(substring(md5(concat('lsplit|', " +
          "cast(group_rep as string))), 1, 4), 16, 10) as int) % 100"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))
        .select("doc_id", "group_rep", "bucket", "split")
        .orderBy("doc_id")
    }),

    // ---- near-dup clustering: pairs -> duplicate groups ------------------
    // Min-label propagation (one equi-join + one partial-combine agg per
    // round, O(cluster diameter) rounds) turns the pair list into groups
    // a pipeline can act on — keep min-id doc per group, drop the rest.
    "llm_dup_groups" -> ((s, dir) => {
      val pairs = TextOps.simHashNearDup(Tables(s, dir, "documents"),
        "doc_id", "text", maxHamming = 3, chunks = 4)
      graft.operators.ConnectedComponents.dupGroups(pairs, "doc_a", "doc_b")
        .orderBy("doc_id")
    }),

    // ---- duplicate-group representative by QUALITY -----------------------
    // Production keep-policy: within each near-dup cluster keep the
    // BEST-quality copy (ties to the lowest id), not the arbitrary
    // lowest id — the last step between dup detection and corpus
    // emission. Representative = one min_by argmin per group (map-side
    // combine), never a per-group sort.
    "llm_dup_rep_quality" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val pairs = TextOps.simHashNearDup(docs, "doc_id", "text",
        maxHamming = 3, chunks = 4)
      val groups = graft.operators.ConnectedComponents
        .dupGroups(pairs, "doc_a", "doc_b").select("doc_id", "group_id")
      val g = docs
        .select(col("doc_id"),
          TextOps.qualityScore(TextOps.words(col("text")), stopwords).as("quality"))
        .join(groups, Seq("doc_id"), "left")
        .withColumn("group_id", coalesce(col("group_id"), col("doc_id")))
      val reps = g.groupBy("group_id")
        .agg(min_by(col("doc_id"),
          struct((col("quality") * -1).as("_nq"), col("doc_id"))).as("_rep"))
      g.join(reps, "group_id")
        .select(col("doc_id"), col("group_id"), col("quality"),
          (col("doc_id") === col("_rep")).as("keep"))
        .orderBy("doc_id")
    }),

    // ---- entity canonicalization (fuzzy pairs -> CC -> canonical) --------
    // The full ER pipeline composed from proven parts: distinct part
    // names pair via the PassJoin edit-distance join (X133), clusters
    // form via alternating-star CC (X51), and each name maps to its
    // cluster's lexicographic-min canonical form ("cold ring" and
    // "old ring" unify). Oracle: brute-force levenshtein pairs + the
    // recursive-CTE CC (the llm_dedup_corpus pattern) — both STAGES of
    // the composition are ground-truth-checked end to end.
    "llm_entity_canonical" -> ((s, dir) => {
      val names = Tables(s, dir, "part")
        .groupBy("p_name").agg(count(lit(1)).as("n_rows"))
      val ma = names.select(col("p_name").as("name_b"),
        col("p_name").as("nm_b"))
      val pr = names.select(col("p_name").as("name_a"),
        col("p_name").as("nm_a"))
      val edges = graft.operators.EntityResolution
        .editDistance1Join(ma, pr, "name_b", "nm_b", "name_a", "nm_a")
        .filter(col("dist") === 1 && col("name_a") < col("name_b"))
      val labels = graft.operators.ConnectedComponents
        .alternatingStars(edges, "name_a", "name_b")
      names.join(labels, names("p_name") === labels("node"), "left")
        .select(col("p_name"),
          coalesce(col("label"), col("p_name")).as("canonical"),
          col("n_rows"))
        .orderBy("p_name")
    }),

    // ---- asymmetric containment join (quote/superset dedup) --------------
    // C(A→B) = |A∩B|/|A| over word-3-shingle sets: finds planted quote
    // pages (every 40th doc = 60% prefix of its neighbor) inside their
    // source docs — the near-superset duplication symmetric Jaccard
    // misses. Prefix filter on the contained side only; threshold and
    // prefix math in exact integer micro-units (no float boundaries).
    "llm_containment_join" -> ((s, dir) => {
      // repartitionInput: the corpus is one scan split (setSimJoin rule)
      TextOps.containmentJoin(quotedDocs(s, dir), "doc_id", "aug",
          shingleN = 3, thresholdMicro = 800000L, repartitionInput = true)
        .orderBy("doc_a", "doc_b")
    }),

    // ---- BWT run-count repetitiveness (r/n) from the suffix array --------
    // The bzip2-principle per-doc repetitiveness score where TTR
    // saturates: docs with id%25 = 0 get their text DOUBLED, and
    // their r/n must drop hard. One corpus-wide SA construction
    // serves every doc's BWT; oracle sorts each doc's suffix lists
    // natively.
    "llm_bwt_runs" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 25 === 0, concat(col("text"), lit(" "),
          col("text"))).otherwise(col("text")).as("text"))
      graft.operators.SuffixArray.bwtRunStats(docs, "doc_id", "text")
    }),

    // ---- Fellegi-Sunter probabilistic record linkage (X284) --------------
    // A keyless dirty feed (planted perturbations: OCR'd 'X' name
    // prefix, nation off-by-one, balance drift, segment loss) links
    // back to the customer master through learned log-likelihood
    // field weights — the decision theory behind entity resolution.
    // Blocking on the name's last-3 equi-join (never a cross product);
    // m/u learned from the labeled candidates; scores exact integer
    // ln-pair sums. Output is the self-evaluating candidate table.
    "llm_record_linkage" -> ((s, dir) => {
      val (m, f) = linkageFeed(Tables(s, dir, "customer"))
      val cands = f.withColumn("_blk", substring(col("f_name"), -3, 3))
        .join(m.withColumn("_blk", substring(col("m_name"), -3, 3)),
          "_blk")
        .select(col("f_key"), col("m_key"),
          (col("f_name") === col("m_name")).as("g_name"),
          (col("f_nat") === col("m_nat")).as("g_nat"),
          (col("f_seg") === col("m_seg")).as("g_seg"),
          (floor(col("f_bal") * 100 + 0.5)
            === floor(col("m_bal") * 100 + 0.5)).as("g_bal"),
          (col("f_key") === col("m_key") + 1000000L).as("truth"))
      graft.operators.RecordLinkage.fellegiSunter(cands,
        Seq("g_name", "g_nat", "g_seg", "g_bal"), "truth",
        Seq("f_key", "m_key"))
    }),

    // ---- unsupervised linkage parameter fit by EM (X325) ------------------
    // The extension X284's scaladoc promises: with NO truth column,
    // m/u/p are latent and fixed-round EM over the comparison-PATTERN
    // counts recovers them (Winkler '88; operators/RecordLinkage.scala
    // emFit). Same feed, same blocking, same four comparison fields —
    // but the truth flag is withheld from the algorithm and only the
    // oracle replay checks the arithmetic. One combine agg to ≤16
    // pattern rows, then 5 model-sized EM rounds on the micro grid
    // (NANO product chains, clamped params, floored divisions).
    "llm_linkage_em" -> ((s, dir) => {
      val (m, f) = linkageFeed(Tables(s, dir, "customer"))
      val cands = f.withColumn("_blk", substring(col("f_name"), -3, 3))
        .join(m.withColumn("_blk", substring(col("m_name"), -3, 3)),
          "_blk")
        .select(
          (col("f_name") === col("m_name")).as("g_name"),
          (col("f_nat") === col("m_nat")).as("g_nat"),
          (col("f_seg") === col("m_seg")).as("g_seg"),
          (floor(col("f_bal") * 100 + 0.5)
            === floor(col("m_bal") * 100 + 0.5)).as("g_bal"))
      graft.operators.RecordLinkage.emFit(cands,
        Seq("g_name", "g_nat", "g_seg", "g_bal"), rounds = 5)
    }),

    // ---- sorted-neighborhood blocking audit (X291) -----------------------
    // The OTHER standard blocking next to X284's last-3 equi-join
    // (Hernandez-Stolfo multi-pass SN): sort master+dirty records by a
    // fuzzy key, pair within a 6-rank window; a second pass with a
    // different key covers the first's blind spots (the name-tail key
    // survives the OCR'd prefix; the nation+balance key survives name
    // damage but not the planted nation shift — the union covers
    // both). Output is the blocking-quality table: candidates, cross-
    // source pairs, true matches captured, recall — per pass and for
    // the multi-pass union.
    "llm_sorted_neighborhood" -> ((s, dir) => {
      val (m, f) = linkageFeed(Tables(s, dir, "customer"))
      val recs = m.select(col("m_key").as("id"), col("m_name").as("name"),
          col("m_nat").as("nat"), col("m_bal").as("bal"))
        .unionByName(f.select(col("f_key").as("id"),
          col("f_name").as("name"), col("f_nat").as("nat"),
          col("f_bal").as("bal")))
        .localCheckpoint(true) // two SN passes sort the same table
      def stats(pass: String, pairs: DataFrame) = pairs
        .withColumn("_cross",
          (col("id_a") < lit(1000000L)) =!= (col("id_b") < lit(1000000L)))
        .withColumn("_true",
          abs(col("id_a") - col("id_b")) === lit(1000000L))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("_cross"), 1L).otherwise(0L)).as("n_cross_pairs"),
          sum(when(col("_true"), 1L).otherwise(0L)).as("n_true_captured"))
        .withColumn("pass", lit(pass))
      val p1 = graft.operators.RecordLinkage.sortedNeighborhoodPairs(
        recs, "id", Seq(reverse(col("name"))), w = 6)
        .localCheckpoint(true) // feeds its own stats AND the union
      val p2 = graft.operators.RecordLinkage.sortedNeighborhoodPairs(
        recs, "id",
        Seq(col("nat"), floor(col("bal") * 100 + 0.5).cast("long")),
        w = 6)
        .localCheckpoint(true)
      val tot = m.agg(count(lit(1)).as("n_true_total"))
      stats("name_tail", p1)
        .unionByName(stats("nation_balance", p2))
        .unionByName(stats("multi_pass", p1.unionByName(p2).distinct()))
        .crossJoin(broadcast(tot))
        .select(col("pass"), col("n_candidates"), col("n_cross_pairs"),
          col("n_true_captured"), col("n_true_total"),
          expr("(n_true_captured * 1000000) div n_true_total")
            .as("recall_micro"))
        .orderBy("pass")
    }),

    // ---- capture-recapture dedup-coverage QA (X271) ----------------------
    // Two INDEPENDENT near-dup detectors (MinHash-LSH jaccard>=0.5,
    // SimHash hamming<=3) as the two "captures": Chapman's estimator
    // (n1+1)(n2+1)/(m+1) - 1 from their flagged-doc overlap estimates
    // the total dup population — est_missed = estimate minus the
    // union is the coverage gap NEITHER method can see alone.
    "llm_dedup_coverage" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      def flagged(pairs: DataFrame) = pairs
        .select(explode(array(col("doc_a"), col("doc_b"))).as("d"))
      // both capture passes run LOOSE parameters (3-row bands, 15-bit
      // simhash chunks), so their buckets grow superlinearly on a
      // correlated corpus (18.2x at 10x data in the r13 sweep) — the
      // star caps bound both to O(n·cap); no-ops at sf0.01 (500 docs)
      graft.operators.CaptureRecapture.chapman(
        flagged(TextOps.nearDupPairs(docs, "doc_id", "text",
          shingleN = 3, numBands = 4, rowsPerBand = 3, threshold = 0.5,
          repartitionInput = true, hotBandCap = 512)),
        flagged(TextOps.simHashNearDup(docs, "doc_id", "text",
          maxHamming = 3, chunks = 4, hotBucketCap = 512)))
    }),

    // ---- URL canonicalization + keep-first dedup -------------------------
    // The crawl-dedup key normalizer. documents has no URL column, so
    // both engines synthesize the same messy URLs from (doc_id, source):
    // mixed-case scheme/host, default :443 port, utm_* trackers in
    // every position the scrubber handles, fragments. Collisions are
    // structural (doc_id mod arithmetic), so real dup groups exist.
    "llm_url_dedup" -> ((s, dir) => {
      val k = (col("doc_id") % 50).cast("string")
      val url = concat(
        when(col("doc_id") % 2 === 0, lit("HTTPS")).otherwise(lit("https")),
        lit("://WWW."), col("source"), lit(".Example.COM"),
        when(col("doc_id") % 5 === 0, lit(":443")).otherwise(lit("")),
        lit("/docs/"), k,
        when(col("doc_id") % 3 === 0, lit("?utm_source=feed"))
          .when(col("doc_id") % 3 === 1,
            concat(lit("?id="), k, lit("&utm_campaign=x")))
          .otherwise(concat(lit("?id="), k)),
        when(col("doc_id") % 7 === 0, lit("#section-2")).otherwise(lit("")))
      TextOps.urlDedup(
        Tables(s, dir, "documents").withColumn("url", url), "doc_id", "url")
        .orderBy("doc_id")
    }),

    // ---- content-defined chunking dedup (X201) ---------------------------
    // The rsync/LBFS chunk-store idea at word granularity: boundaries
    // are a pure function of LOCAL content (md5(word) mod 4 == 0), so a
    // boilerplate block planted at DIFFERENT offsets in every carrier
    // still yields identical interior chunks — the shift-robustness
    // fixed shingles lack. Runs on the boilerplated corpus so cross-doc
    // chunk sharing exists to find; dedup is pure hash aggregation (no
    // pairwise compares). Global __ALL__ row = the content-addressed
    // store view (chunks dedup ACROSS sources).
    "llm_cdc_chunks" -> ((s, dir) => {
      TextOps.cdcChunkStats(boilerplatedDocs(s, dir), "doc_id", "aug",
        "source", avgChunk = 4)
    }),

    // ---- 2D skyline: the quality × length Pareto frontier (X210) ---------
    // Multi-objective curation: which documents are not strictly beaten
    // on BOTH quality and length? Prune-then-verify (bucket max + the
    // strictly-higher-bucket prefix max prune the corpus to frontier-
    // sized candidates; exact dominance anti-join only there). The
    // oracle runs the INDEPENDENT quadratic NOT-EXISTS dominance test.
    "llm_skyline" -> ((s, dir) => {
      val sc = Tables(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          TextOps.words(col("text")).as("_w"))
        .select(col("doc_id"),
          floor(TextOps.qualityScore(col("_w"), stopwords) * 1000000.0
            + 0.5).cast("long").as("q_micro"),
          col("n_chars"))
      graft.operators.Skyline.skyline2D(sc, "doc_id", "q_micro", "n_chars",
        xBucketWidth = 31250L)
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "llm_exact_dedup" -> """
      SELECT doc_id, content_sha, n_copies FROM (
        SELECT doc_id, sha256(text) AS content_sha,
               count(*) OVER (PARTITION BY sha256(text)) AS n_copies,
               row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
        FROM documents)
      WHERE rn = 1 ORDER BY doc_id
    """,

    "llm_fingerprint_dedup" -> s"""
      SELECT doc_id, wordset_fp, minhash_fp, n_copies FROM (
        SELECT doc_id, wordset_fp,
               list_min(list_transform(string_split(text, ' '), w -> md5(w))) AS minhash_fp,
               count(*) OVER (PARTITION BY wordset_fp) AS n_copies,
               row_number() OVER (PARTITION BY wordset_fp ORDER BY doc_id) AS rn
        FROM (SELECT doc_id, text, $wordsetFpSql AS wordset_fp FROM documents))
      WHERE rn = 1 ORDER BY doc_id
    """,

    "llm_sig_roundtrip" -> s"""
      WITH batch AS (
        SELECT doc_id, sha256(text) AS content_sha
        FROM documents WHERE doc_id % 4 = 0),
      b AS (
        SELECT DISTINCT content_sha AS bsha
        FROM read_parquet('/tmp/graft_sig_out/__SF__/*.parquet'))
      SELECT doc_id, content_sha,
             (content_sha IN (SELECT bsha FROM b)) AS known_exact
      FROM batch ORDER BY doc_id
    """,

    "llm_snapshot_diff" -> s"""
      WITH v1 AS (SELECT doc_id, sha256(text) AS s1 FROM documents),
      v2 AS (
        SELECT doc_id,
               sha256(CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END) AS s2
        FROM documents WHERE doc_id % 23 <> 0
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, sha256(text || ' new') AS s2
        FROM documents WHERE doc_id % 29 = 0)
      SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
             CASE WHEN v1.doc_id IS NULL THEN 'added'
                  WHEN v2.doc_id IS NULL THEN 'removed'
                  WHEN s1 <> s2 THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM v1 FULL OUTER JOIN v2 USING (doc_id)
      ORDER BY doc_id
    """,

    "llm_near_dup" -> s"""
      WITH $shinglesCte,
      sigs AS (SELECT doc_id, $minhashSigs FROM expl GROUP BY doc_id),
      bands AS ($bandKeys),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      sets AS (
        SELECT doc_id, list(s) AS ss, count(*) AS c
        FROM expl GROUP BY doc_id),
      verified AS (
        SELECT doc_a, doc_b, x.c AS ca, y.c AS cb,
               CAST(len(list_intersect(x.ss, y.ss)) AS BIGINT) AS inter
        FROM cand
        JOIN sets x ON doc_a = x.doc_id
        JOIN sets y ON doc_b = y.doc_id)
      SELECT doc_a, doc_b, ca, cb, inter, jaccard FROM (
        SELECT *, ${round6sql("inter / CAST(ca + cb - inter AS DOUBLE)")} AS jaccard
        FROM verified)
      WHERE jaccard >= 0.5
      ORDER BY doc_a, doc_b
    """,

    // Brute-force all-pairs exact Jaccard: the oracle for the prefix-
    // filtered join — any pair the filter dropped would fail the hash.
    "llm_set_sim_join" -> s"""
      WITH $shinglesCte,
      sets AS (
        SELECT doc_id, list(s) AS ss, count(*) AS c
        FROM expl GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.c AS ca, b.c AS cb,
               CAST(len(list_intersect(a.ss, b.ss)) AS BIGINT) AS inter
        FROM sets a JOIN sets b ON a.doc_id < b.doc_id)
      SELECT doc_a, doc_b, ca, cb, inter, jaccard FROM (
        SELECT *, ${round6sql("inter / CAST(ca + cb - inter AS DOUBLE)")} AS jaccard
        FROM pairs)
      WHERE jaccard >= 0.5
      ORDER BY doc_a, doc_b
    """,

    // Exact side = the brute-force all-pairs truth; LSH side replays the
    // banded candidate join + verify; left join marks which true pairs
    // the bands caught.
    "llm_lsh_recall" -> s"""
      WITH $shinglesCte,
      sets AS (
        SELECT doc_id, list(s) AS ss, count(*) AS c
        FROM expl GROUP BY doc_id),
      exact AS (
        SELECT doc_a, doc_b, jaccard FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 ${round6sql(
                   "len(list_intersect(a.ss, b.ss)) / CAST(a.c + b.c - len(list_intersect(a.ss, b.ss)) AS DOUBLE)")} AS jaccard
          FROM sets a JOIN sets b ON a.doc_id < b.doc_id)
        WHERE jaccard >= 0.5),
      sigs AS (SELECT doc_id, $minhashSigs FROM expl GROUP BY doc_id),
      bands AS ($bandKeys),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      lshv AS (
        SELECT doc_a, doc_b FROM (
          SELECT doc_a, doc_b,
                 ${round6sql(
                   "len(list_intersect(x.ss, y.ss)) / CAST(x.c + y.c - len(list_intersect(x.ss, y.ss)) AS DOUBLE)")} AS j
          FROM cand
          JOIN sets x ON doc_a = x.doc_id
          JOIN sets y ON doc_b = y.doc_id)
        WHERE j >= 0.5)
      SELECT e.doc_a, e.doc_b, e.jaccard,
             (l.doc_a IS NOT NULL) AS found_by_lsh
      FROM exact e LEFT JOIN lshv l USING (doc_a, doc_b)
      ORDER BY e.doc_a, e.doc_b
    """,

    // Sigs/sets are computed once over all documents; the bipartite split
    // happens in the candidate join's side predicates (doc_id % 4).
    "llm_incremental_dedup" -> s"""
      WITH $shinglesCte,
      sigs AS (SELECT doc_id, $minhashSigs FROM expl GROUP BY doc_id),
      bands AS ($bandKeys),
      sets AS (
        SELECT doc_id, list(s) AS ss, count(*) AS c
        FROM expl GROUP BY doc_id),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey
        WHERE a.doc_id % 4 = 0 AND b.doc_id % 4 != 0),
      near AS (
        SELECT doc_a, count(*) AS n_near FROM (
          SELECT doc_a, doc_b,
                 ${round6sql(
                   "len(list_intersect(x.ss, y.ss)) / CAST(x.c + y.c - len(list_intersect(x.ss, y.ss)) AS DOUBLE)")} AS j
          FROM cand
          JOIN sets x ON doc_a = x.doc_id
          JOIN sets y ON doc_b = y.doc_id)
        WHERE j >= 0.5 GROUP BY doc_a),
      sha AS (SELECT doc_id, sha256(text) AS content_sha FROM documents),
      basesha AS (
        SELECT DISTINCT content_sha FROM sha WHERE doc_id % 4 != 0)
      SELECT sh.doc_id, sh.content_sha,
             (basesha.content_sha IS NOT NULL) AS exact_dup,
             coalesce(near.n_near, 0) AS n_near,
             (basesha.content_sha IS NULL AND near.doc_a IS NULL) AS keep
      FROM sha sh
      LEFT JOIN basesha ON sh.content_sha = basesha.content_sha
      LEFT JOIN near ON sh.doc_id = near.doc_a
      WHERE sh.doc_id % 4 = 0
      ORDER BY sh.doc_id
    """,

    "llm_winnow_fp" -> s"""
      WITH wdocs AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(ws) >= 3
                    THEN list_transform(range(1, len(ws) - 1),
                                        i -> md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
                    ELSE [] END AS hs
        FROM wdocs),
      mins AS (
        SELECT doc_id,
               CASE WHEN len(hs) >= 4
                    THEN list_transform(range(1, len(hs) - 2), i -> list_min(hs[i:i+3]))
                    WHEN len(hs) > 0 THEN [list_min(hs)]
                    ELSE [] END AS ms
        FROM sh),
      fp AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(ms)), '')) AS winnow_fp
        FROM mins)
      SELECT doc_id, winnow_fp,
             count(*) OVER (PARTITION BY winnow_fp) AS n_copies
      FROM fp ORDER BY doc_id
    """,

    "llm_simhash" -> s"""
      WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      hh AS (
        SELECT doc_id, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS h FROM tok),
      bs AS (SELECT doc_id, $simhashBitSums FROM hh GROUP BY doc_id)
      SELECT doc_id, $simhashCombine AS simhash
      FROM bs ORDER BY doc_id
    """,

    "llm_substring_dedup" -> s"""
      WITH aug AS (
        SELECT doc_id,
               CASE WHEN doc_id % 25 = 0 THEN text || ' $Boilerplate'
                    ELSE text END AS text
        FROM documents),
      w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM aug),
      sp AS (
        SELECT doc_id, ws,
               unnest(range(1, greatest(1, CAST(len(ws) AS BIGINT) - 8))) AS i
        FROM w),
      spans AS (SELECT doc_id, md5(array_to_string(ws[i:i+9], ' ')) AS h FROM sp),
      g AS (
        SELECT h, count(DISTINCT doc_id) AS ndocs
        FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
      pd AS (
        SELECT s.doc_id, count(*) AS n_dup_spans, max(g.ndocs) AS max_span_docs
        FROM spans s JOIN g USING (h) GROUP BY s.doc_id),
      base AS (
        SELECT doc_id, greatest(0, CAST(len(ws) AS BIGINT) - 9) AS n_spans FROM w)
      SELECT b.doc_id, b.n_spans,
             coalesce(pd.n_dup_spans, 0) AS n_dup_spans,
             coalesce(pd.max_span_docs, 0) AS max_span_docs,
             CASE WHEN b.n_spans > 0
                  THEN ${round6sql("coalesce(pd.n_dup_spans, 0) / CAST(b.n_spans AS DOUBLE)")}
                  ELSE 0.0 END AS dup_frac
      FROM base b LEFT JOIN pd USING (doc_id)
      ORDER BY b.doc_id
    """,

    // Brute-force suffix-array replay: materialize every suffix's word
    // list (O(n·len) — oracle-only, the engine never does this), sort by
    // DuckDB's native list comparison (lexicographic, shorter-prefix
    // first — exactly the sentinel order of the prefix-doubling build),
    // LCP of adjacent suffixes via first-mismatch position, then the
    // same left-maximal filter and (lcp DESC, ids) top-k.
    "llm_suffix_repeats" -> s"""
      WITH aug AS (
        SELECT doc_id,
               CASE WHEN doc_id % 25 = 0 THEN text || ' $Boilerplate'
                    ELSE text END AS text
        FROM documents),
      tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM aug),
      suf AS (
        SELECT doc_id, CAST(i AS INTEGER) AS pos, ws[CAST(i AS INTEGER):] AS s,
               CASE WHEN i > 1 THEN ws[CAST(i AS INTEGER) - 1] ELSE NULL END AS pw
        FROM (SELECT doc_id, ws,
                     unnest(range(1, CAST(len(ws) AS BIGINT) + 1)) AS i
              FROM tok)),
      ord AS (
        SELECT *, row_number() OVER (ORDER BY s, doc_id, pos) AS r FROM suf),
      pr AS (
        SELECT a.doc_id AS doc_a, a.pos AS pos_a, a.s AS sa, a.pw AS pwa,
               b.doc_id AS doc_b, b.pos AS pos_b, b.s AS sb, b.pw AS pwb
        FROM ord a JOIN ord b ON b.r = a.r + 1),
      lc AS (
        -- nullif guard: list_position returns 0 (not NULL) when no
        -- mismatch exists, i.e. one suffix is a prefix of the other —
        -- there the LCP is the shorter length
        SELECT doc_a, pos_a, doc_b, pos_b, pwa, pwb,
               CAST(coalesce(
                 nullif(list_position(list_transform(
                   range(1, least(len(sa), len(sb)) + 1),
                   i -> sa[i] = sb[i]), false), 0) - 1,
                 least(len(sa), len(sb))) AS BIGINT) AS lcp_tokens
        FROM pr)
      SELECT doc_a, pos_a, doc_b, pos_b, lcp_tokens
      FROM lc
      WHERE (pwa IS DISTINCT FROM pwb OR (pwa IS NULL AND pwb IS NULL))
        AND lcp_tokens >= 5
      ORDER BY lcp_tokens DESC, doc_a, pos_a, doc_b, pos_b
      LIMIT 40
    """,

    // Independent-algorithm oracle: duplicated 10-gram flags (count of
    // OCCURRENCES ≥ 2 — within-doc repeats count, unlike the
    // cross-doc-only llm_substring_dedup family) merged into maximal
    // runs by gaps-and-islands. A run of r flagged starts is one
    // duplicated span of r + 9 tokens — provably the same spans the
    // suffix-array side derives from adjacent-suffix LCPs.
    "llm_suffix_dup_spans" -> s"""
      WITH aug AS (
        SELECT doc_id,
               CASE WHEN doc_id % 25 = 0 THEN text || ' $Boilerplate'
                    ELSE text END AS text
        FROM documents),
      w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM aug),
      sp AS (
        SELECT doc_id, CAST(i AS INTEGER) AS pos,
               md5(array_to_string(ws[CAST(i AS INTEGER):CAST(i AS INTEGER) + 9], ' ')) AS h
        FROM (SELECT doc_id, ws,
                     unnest(range(1, greatest(CAST(len(ws) AS BIGINT) - 8, 1))) AS i
              FROM w)),
      g AS (SELECT h FROM sp GROUP BY h HAVING count(*) >= 2),
      f AS (SELECT DISTINCT doc_id, pos FROM sp JOIN g USING (h)),
      isl AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM f)
      SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
             CAST(max(pos) - min(pos) + 10 AS BIGINT) AS span_tokens
      FROM isl
      GROUP BY doc_id, grp
      ORDER BY doc_id, span_start
    """,

    // Shared-build composite oracle: the repeat half replays the suffix
    // sort + LCP + left-max + top-k, the span half replays the
    // INDEPENDENT L-gram islands algorithm (same as llm_suffix_dup_spans
    // — the two halves must agree with ONE Spark build).
    "llm_suffix_shared" -> s"""
      WITH aug AS (
        SELECT doc_id,
               CASE WHEN doc_id % 25 = 0 THEN text || ' $Boilerplate'
                    ELSE text END AS text
        FROM documents),
      tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM aug),
      suf AS (
        SELECT doc_id, CAST(i AS INTEGER) AS pos, ws[CAST(i AS INTEGER):] AS s,
               CASE WHEN i > 1 THEN ws[CAST(i AS INTEGER) - 1] ELSE NULL END AS pw
        FROM (SELECT doc_id, ws,
                     unnest(range(1, CAST(len(ws) AS BIGINT) + 1)) AS i
              FROM tok)),
      ord AS (
        SELECT *, row_number() OVER (ORDER BY s, doc_id, pos) AS r FROM suf),
      pr AS (
        SELECT a.doc_id AS doc_a, a.pos AS pos_a, a.s AS sa, a.pw AS pwa,
               b.doc_id AS doc_b, b.pos AS pos_b, b.s AS sb, b.pw AS pwb
        FROM ord a JOIN ord b ON b.r = a.r + 1),
      lc AS (
        SELECT doc_a, pos_a, doc_b, pos_b, pwa, pwb,
               CAST(coalesce(
                 nullif(list_position(list_transform(
                   range(1, least(len(sa), len(sb)) + 1),
                   i -> sa[i] = sb[i]), false), 0) - 1,
                 least(len(sa), len(sb))) AS BIGINT) AS lcp_tokens
        FROM pr),
      rep AS (
        SELECT doc_a, pos_a, doc_b, pos_b, lcp_tokens
        FROM lc
        WHERE (pwa IS DISTINCT FROM pwb OR (pwa IS NULL AND pwb IS NULL))
          AND lcp_tokens >= 5
        ORDER BY lcp_tokens DESC, doc_a, pos_a, doc_b, pos_b
        LIMIT 40),
      sp AS (
        SELECT doc_id, CAST(i AS INTEGER) AS pos,
               md5(array_to_string(ws[CAST(i AS INTEGER):CAST(i AS INTEGER) + 9], ' ')) AS h
        FROM (SELECT doc_id, ws,
                     unnest(range(1, greatest(CAST(len(ws) AS BIGINT) - 8, 1))) AS i
              FROM tok)),
      g AS (SELECT h FROM sp GROUP BY h HAVING count(*) >= 2),
      f AS (SELECT DISTINCT doc_id, pos FROM sp JOIN g USING (h)),
      isl AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM f),
      spans AS (
        SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
               CAST(max(pos) - min(pos) + 10 AS BIGINT) AS span_tokens
        FROM isl
        GROUP BY doc_id, grp)
      SELECT part, id_a, pos_a, id_b, pos_b, n_tokens FROM (
        SELECT 'repeat' AS part, doc_a AS id_a, pos_a,
               doc_b AS id_b, pos_b, lcp_tokens AS n_tokens
        FROM rep
        UNION ALL
        SELECT 'span' AS part, doc_id AS id_a, span_start AS pos_a,
               CAST(NULL AS BIGINT) AS id_b, CAST(NULL AS INTEGER) AS pos_b,
               span_tokens AS n_tokens
        FROM spans)
      ORDER BY part, id_a, pos_a, id_b, pos_b
    """,

    // Full-rebuild oracle for the INCREMENTAL query: the L-gram islands
    // algorithm over the whole union corpus, oblivious to the base/batch
    // split — if the probe-vs-index Spark side drops or invents a span
    // anywhere (batch docs, base docs newly duplicated by the batch, or
    // runs that fuse across the two), the hash mismatches.
    "llm_suffix_incremental" -> s"""
      WITH aug AS (
        SELECT doc_id,
               CASE WHEN doc_id % 25 = 0 THEN text || ' $Boilerplate'
                    ELSE text END AS text
        FROM documents),
      w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM aug),
      sp AS (
        SELECT doc_id, CAST(i AS INTEGER) AS pos,
               md5(array_to_string(ws[CAST(i AS INTEGER):CAST(i AS INTEGER) + 9], ' ')) AS h
        FROM (SELECT doc_id, ws,
                     unnest(range(1, greatest(CAST(len(ws) AS BIGINT) - 8, 1))) AS i
              FROM w)),
      g AS (SELECT h FROM sp GROUP BY h HAVING count(*) >= 2),
      f AS (SELECT DISTINCT doc_id, pos FROM sp JOIN g USING (h)),
      isl AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM f)
      SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
             CAST(max(pos) - min(pos) + 10 AS BIGINT) AS span_tokens
      FROM isl
      GROUP BY doc_id, grp
      ORDER BY doc_id, span_start
    """,

    "llm_line_dedup" -> s"""
      WITH aug AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 10 = 0 THEN '$HeaderLine' || chr(10) ELSE '' END)
               || text ||
               (CASE WHEN doc_id % 15 = 0 THEN chr(10) || '$FooterLine' ELSE '' END) AS text
        FROM documents),
      w AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM aug),
      l AS (
        SELECT doc_id, ls,
               unnest(range(1, CAST(len(ls) AS BIGINT) + 1)) AS pos
        FROM w),
      lh AS (SELECT doc_id, pos, md5(ls[pos]) AS h, ls[pos] AS line FROM l),
      common AS (
        SELECT h FROM (SELECT DISTINCT h, doc_id FROM lh)
        GROUP BY h HAVING count(*) >= 2),
      kept AS (
        SELECT doc_id, pos, line FROM lh
        WHERE h NOT IN (SELECT h FROM common)),
      agg AS (
        SELECT doc_id, count(*) AS n_kept,
               string_agg(line, chr(10) ORDER BY pos) AS clean_text
        FROM kept GROUP BY doc_id),
      base AS (SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines FROM w)
      SELECT b.doc_id, b.n_lines,
             b.n_lines - coalesce(a.n_kept, 0) AS n_dropped,
             coalesce(a.clean_text, '') AS clean_text
      FROM base b LEFT JOIN agg a USING (doc_id)
      ORDER BY b.doc_id
    """,

    "llm_dup_span_runs" -> s"""
      WITH aug AS (
        SELECT doc_id,
               CASE WHEN doc_id % 25 = 0 THEN text || ' $Boilerplate'
                    ELSE text END AS text
        FROM documents),
      w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM aug),
      sp AS (
        SELECT doc_id, ws,
               unnest(range(1, greatest(1, CAST(len(ws) AS BIGINT) - 8))) AS i
        FROM w),
      spans AS (SELECT doc_id, i AS pos, md5(array_to_string(ws[i:i+9], ' ')) AS h FROM sp),
      g AS (
        SELECT h FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
      f AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        FROM spans JOIN g USING (h))
      SELECT doc_id, min(pos) AS span_start, count(*) + 9 AS span_tokens
      FROM f GROUP BY doc_id, isl
      ORDER BY doc_id, span_start
    """,

    "llm_decontaminate" -> """
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id, unnest(CASE WHEN len(ws) >= 5
            THEN list_transform(range(1, len(ws) - 3),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])
            ELSE [] END) AS s
          FROM w)),
      b AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % 50 = 0),
      o AS (
        SELECT sh.doc_id, count(DISTINCT sh.s) AS n_shared,
               count(DISTINCT b.bench_id) AS n_bench_docs
        FROM sh JOIN b ON sh.s = b.s AND sh.doc_id != b.bench_id
        GROUP BY sh.doc_id)
      SELECT d.doc_id,
             coalesce(o.n_shared, 0) AS n_shared,
             coalesce(o.n_bench_docs, 0) AS n_bench_docs,
             (coalesce(o.n_shared, 0) > 0) AS contaminated
      FROM documents d LEFT JOIN o ON d.doc_id = o.doc_id
      ORDER BY d.doc_id
    """,

    "llm_simhash_near_dup" -> s"""
      WITH $simhashPairsCte
      SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
      FROM pairs
      WHERE bit_count(xor(sim_a, sim_b)) <= 3
      ORDER BY doc_a, doc_b
    """,

    // Brute-force ground truth (no blocking at all): every doc pair's
    // exact Hamming distance — proves the subset blocking lossless.
    "llm_simhash_blocked" -> s"""
      WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      hh AS (
        SELECT doc_id, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS h FROM tok),
      bs AS (SELECT doc_id, $simhashBitSums FROM hh GROUP BY doc_id),
      sims AS (SELECT doc_id, $simhashCombine AS simhash FROM bs)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      FROM sims a JOIN sims b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      ORDER BY doc_a, doc_b
    """,

    // Brute-force ground truth: every (dirty, master) pair's exact
    // levenshtein (length prefilter only cuts |len diff| > 1, which the
    // threshold already implies) — proves the PassJoin segment blocking
    // lossless for distance <= 1.
    "llm_fuzzy_join" -> """
      WITH d AS (
        SELECT p_partkey AS dirty_id,
               CASE
                 WHEN p_partkey % 5 = 0 THEN
                   substr(p_name, 1,
                          5 + CAST(p_partkey % greatest(length(p_name) - 6, 1) AS INT))
                   || substr(p_name,
                             7 + CAST(p_partkey % greatest(length(p_name) - 6, 1) AS INT),
                             length(p_name))
                 WHEN p_partkey % 5 = 1 THEN p_name
                 ELSE substr(p_name, 1, length(p_name) - 2) || '00'
               END AS dirty_name
        FROM part WHERE p_partkey % 5 <= 2),
      pairs AS (
        SELECT d.dirty_id, m.p_partkey AS master_id,
               levenshtein(d.dirty_name, m.p_name) AS dist
        FROM d, part m
        WHERE abs(length(d.dirty_name) - length(m.p_name)) <= 1
          AND levenshtein(d.dirty_name, m.p_name) <= 1),
      best AS (SELECT dirty_id, min(dist) AS dist FROM pairs GROUP BY 1),
      pick AS (
        SELECT p.dirty_id, min(p.master_id) AS master_id, b.dist
        FROM pairs p JOIN best b ON p.dirty_id = b.dirty_id
                                AND p.dist = b.dist
        GROUP BY p.dirty_id, b.dist)
      SELECT d.dirty_id, pick.master_id, CAST(pick.dist AS INT) AS dist
      FROM d LEFT JOIN pick ON d.dirty_id = pick.dirty_id
      ORDER BY d.dirty_id
    """,

    // Same recursive closure as llm_dup_groups plus the sha keep-first
    // join, LEFT-joined back to every corpus doc — the Spark side runs
    // alternating large/small-star CC, so this oracle pins BOTH
    // implementations to the identical fixpoint.
    "llm_dedup_corpus" -> s"""
      WITH RECURSIVE $simhashPairsCte,
      edges AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE bit_count(xor(sim_a, sim_b)) <= 3),
      sym AS (
        SELECT doc_a AS node, doc_b AS nbr FROM edges
        UNION ALL
        SELECT doc_b, doc_a FROM edges),
      reach(node, label) AS (
        SELECT node, node FROM sym
        UNION
        SELECT s.node, r.label FROM sym s JOIN reach r ON s.nbr = r.node),
      cc AS (SELECT node, min(label) AS group_id FROM reach GROUP BY node),
      sha AS (SELECT doc_id, sha256(text) AS h FROM documents),
      keeper AS (SELECT h, min(doc_id) AS exact_keeper FROM sha GROUP BY h)
      SELECT s.doc_id, keeper.exact_keeper,
             coalesce(cc.group_id, s.doc_id) AS group_rep,
             (coalesce(cc.group_id, s.doc_id) = s.doc_id) AS keep
      FROM sha s
      JOIN keeper ON s.h = keeper.h
      LEFT JOIN cc ON s.doc_id = cc.node
      ORDER BY s.doc_id
    """,

    // Same recursive-CTE dup groups as llm_dedup_corpus, then one md5
    // bucket per GROUP key — the leakage guarantee is structural in both
    // engines (members inherit the group's bucket).
    "llm_leakage_split" -> s"""
      WITH RECURSIVE $simhashPairsCte,
      edges AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE bit_count(xor(sim_a, sim_b)) <= 3),
      sym AS (
        SELECT doc_a AS node, doc_b AS nbr FROM edges
        UNION ALL
        SELECT doc_b, doc_a FROM edges),
      reach(node, label) AS (
        SELECT node, node FROM sym
        UNION
        SELECT s.node, r.label FROM sym s JOIN reach r ON s.nbr = r.node),
      cc AS (SELECT node, min(label) AS group_id FROM reach GROUP BY node),
      rep AS (
        SELECT d.doc_id, coalesce(cc.group_id, d.doc_id) AS group_rep
        FROM documents d LEFT JOIN cc ON d.doc_id = cc.node),
      b AS (
        SELECT doc_id, group_rep,
               CAST('0x' || substr(md5('lsplit|' || CAST(group_rep AS VARCHAR)), 1, 4) AS INT) % 100 AS bucket
        FROM rep)
      SELECT doc_id, group_rep, bucket,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM b ORDER BY doc_id
    """,

    // Recursive closure over the same simhash pair list: every node's
    // group is the min doc_id reachable through near-dup edges — the SQL
    // fixpoint the Spark min-label propagation must agree with exactly.
    "llm_dup_groups" -> s"""
      WITH RECURSIVE $simhashPairsCte,
      edges AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE bit_count(xor(sim_a, sim_b)) <= 3),
      sym AS (
        SELECT doc_a AS node, doc_b AS nbr FROM edges
        UNION ALL
        SELECT doc_b, doc_a FROM edges),
      reach(node, label) AS (
        SELECT node, node FROM sym
        UNION
        SELECT s.node, r.label FROM sym s JOIN reach r ON s.nbr = r.node),
      cc AS (SELECT node, min(label) AS group_id FROM reach GROUP BY node)
      SELECT node AS doc_id, group_id,
             count(*) OVER (PARTITION BY group_id) AS group_size
      FROM cc ORDER BY doc_id
    """,

    "llm_dup_rep_quality" -> s"""
      WITH RECURSIVE $simhashPairsCte,
      edges AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE bit_count(xor(sim_a, sim_b)) <= 3),
      sym AS (
        SELECT doc_a AS node, doc_b AS nbr FROM edges
        UNION ALL
        SELECT doc_b, doc_a FROM edges),
      reach(node, label) AS (
        SELECT node, node FROM sym
        UNION
        SELECT s.node, r.label FROM sym s JOIN reach r ON s.nbr = r.node),
      cc AS (SELECT node, min(label) AS group_id FROM reach GROUP BY node),
      q AS (
        SELECT doc_id, $qualitySqlCol AS quality
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
      g AS (
        SELECT q.doc_id, coalesce(cc.group_id, q.doc_id) AS group_id, q.quality
        FROM q LEFT JOIN cc ON q.doc_id = cc.node),
      reps AS (
        SELECT group_id, doc_id AS rep_id FROM (
          SELECT group_id, doc_id,
                 row_number() OVER (PARTITION BY group_id
                                    ORDER BY quality DESC, doc_id) AS rn
          FROM g)
        WHERE rn = 1)
      SELECT g.doc_id, g.group_id, g.quality,
             (g.doc_id = reps.rep_id) AS keep
      FROM g JOIN reps USING (group_id)
      ORDER BY g.doc_id
    """,

    // Brute-force pairs + recursive-CTE min-label CC — both stages of
    // the Spark composition checked against ground truth at once.
    "llm_entity_canonical" -> """
      WITH RECURSIVE names AS (
        SELECT p_name, CAST(count(*) AS BIGINT) AS n_rows
        FROM part GROUP BY 1),
      e AS (
        SELECT a.p_name AS na, b.p_name AS nb
        FROM names a JOIN names b
          ON a.p_name < b.p_name
         AND abs(length(a.p_name) - length(b.p_name)) <= 1
         AND levenshtein(a.p_name, b.p_name) = 1),
      sym AS (
        SELECT na AS node, nb AS nbr FROM e
        UNION ALL SELECT nb, na FROM e),
      reach(node, label) AS (
        SELECT node, node FROM sym
        UNION
        SELECT s.node, r.label FROM sym s JOIN reach r ON s.nbr = r.node),
      cc AS (SELECT node, min(label) AS canonical FROM reach GROUP BY node)
      SELECT n.p_name, coalesce(cc.canonical, n.p_name) AS canonical,
             n.n_rows
      FROM names n LEFT JOIN cc ON n.p_name = cc.node
      ORDER BY p_name
    """,

    // Brute force: every pair sharing a shingle, exact intersection
    // counts, same integer micro-unit threshold — proves the prefix
    // filter lossless for the asymmetric measure.
    "llm_containment_join" -> s"""
      WITH aug AS (
        SELECT d.doc_id,
               CASE WHEN d.doc_id % 40 = 1 AND p.text IS NOT NULL
                    THEN substr(p.text, 1, CAST((p.n_chars * 6) // 10 AS INT))
                    ELSE d.text END AS aug
        FROM documents d LEFT JOIN documents p ON p.doc_id = d.doc_id - 1),
      w AS (SELECT doc_id, string_split(aug, ' ') AS ws FROM aug),
      sh AS (
        SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id, unnest(CASE WHEN len(ws) >= 3
            THEN list_transform(range(1, len(ws) - 1),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
            ELSE [] END) AS s
          FROM w)),
      sizes AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS c FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, sa.c AS ca, sb.c AS cb, inter,
             ${round6sql("inter / CAST(sa.c AS DOUBLE)")} AS containment
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE inter * 1000000 >= sa.c * 800000
      ORDER BY doc_a, doc_b
    """,

    // BWT replay: per doc, native list-sort of the suffix slices
    // (shorter-prefix-first — the SA's past-end sentinel order),
    // preceding word (or ^), lag run count.
    "llm_bwt_runs" -> s"""
      WITH aug AS (
        SELECT doc_id,
               CASE WHEN doc_id % 25 = 0 THEN text || ' ' || text
                    ELSE text END AS text
        FROM documents),
      tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM aug),
      suf AS (
        SELECT doc_id, ws[CAST(i AS INTEGER):] AS s,
               CASE WHEN i > 1 THEN ws[CAST(i AS INTEGER) - 1]
                    ELSE '^' END AS bw
        FROM (SELECT doc_id, ws,
                     unnest(range(1, CAST(len(ws) AS BIGINT) + 1)) AS i
              FROM tok)),
      ord AS (
        SELECT doc_id, bw,
               lag(bw) OVER (PARTITION BY doc_id ORDER BY s) AS pbw
        FROM suf)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN pbw IS NULL OR pbw <> bw THEN 1 ELSE 0 END)
               AS BIGINT) AS bwt_runs,
             ${round6sql(
        "sum(CASE WHEN pbw IS NULL OR pbw <> bw THEN 1 ELSE 0 END)" +
        " / CAST(count(*) AS DOUBLE)")} AS run_ratio
      FROM ord GROUP BY doc_id
      ORDER BY doc_id
    """,

    // Replays the perturbed feed, the last-3 blocking join, the
    // smoothed m/u counts, and every ln-pair weight.
    "llm_record_linkage" -> {
      def lmuSql(x: String): String =
        s"CAST(floor(ln(CAST(($x) AS DOUBLE)) * 1000000.0) AS BIGINT)"
      val fields = Seq("name", "nat", "seg", "bal")
      val wCols = fields.map { f =>
        s"""CAST(sum(CASE WHEN truth AND g_$f THEN 1 ELSE 0 END) AS BIGINT) AS ma_$f,
               CAST(sum(CASE WHEN NOT truth AND g_$f THEN 1 ELSE 0 END) AS BIGINT) AS ua_$f"""
      }.mkString(",\n               ")
      val scoreExpr = fields.map { f =>
        s"""CASE WHEN g_$f
             THEN ${lmuSql(s"(ma_$f + 1) * (nu + 2)")}
                  - ${lmuSql(s"(nm + 2) * (ua_$f + 1)")}
             ELSE ${lmuSql(s"(nm - ma_$f + 1) * (nu + 2)")}
                  - ${lmuSql(s"(nm + 2) * (nu - ua_$f + 1)")} END"""
      }.mkString("\n           + ")
      val nAgree = fields.map(f => s"CASE WHEN g_$f THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""
      WITH $linkageFeedCtes,
      c AS MATERIALIZED (
        SELECT f_key, m_key,
               (f_name = m_name) AS g_name,
               (f_nat = m_nat) AS g_nat,
               (f_seg = m_seg) AS g_seg,
               (floor(f_bal * 100 + 0.5) = floor(m_bal * 100 + 0.5))
                 AS g_bal,
               (f_key = m_key + 1000000) AS truth
        FROM f JOIN m ON right(f_name, 3) = right(m_name, 3)),
      w AS (
        SELECT CAST(sum(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT) AS nm,
               CAST(sum(CASE WHEN truth THEN 0 ELSE 1 END) AS BIGINT) AS nu,
               $wCols
        FROM c),
      s AS (
        SELECT f_key, m_key, $nAgree AS n_agree,
           $scoreExpr AS score,
           truth
        FROM c CROSS JOIN w)
      SELECT f_key, m_key, CAST(n_agree AS INT) AS n_agree,
             CAST(score AS BIGINT) AS score_micro,
             CASE WHEN score >= 4000000 THEN 'link'
                  WHEN score >= 0 THEN 'possible'
                  ELSE 'nonlink' END AS verdict,
             truth AS is_match
      FROM s ORDER BY f_key, m_key
    """
    },

    // Unrolls all 5 EM rounds over the 16-row pattern table as
    // MATERIALIZED CTEs — the same micro/NANO fixed-point arithmetic
    // emFit runs, so parameters and posteriors match to the last unit.
    "llm_linkage_em" -> linkageEmOracleSql,

    // Replays both SN passes: the (keys…, id) total-order row_number,
    // the 5-forward-offset pair join, and the per-pass + union stats.
    "llm_sorted_neighborhood" -> s"""
      WITH $linkageFeedCtes,
      recs AS MATERIALIZED (
        SELECT m_key AS id, m_name AS name, m_nat AS nat, m_bal AS bal
        FROM m
        UNION ALL
        SELECT f_key, f_name, f_nat, f_bal FROM f),
      r1 AS MATERIALIZED (
        SELECT id, row_number() OVER (ORDER BY reverse(name), id) AS rn
        FROM recs),
      p1 AS MATERIALIZED (
        SELECT a.id AS id_a, b.id AS id_b
        FROM r1 a
        CROSS JOIN (VALUES (1), (2), (3), (4), (5)) o(k)
        JOIN r1 b ON b.rn = a.rn + o.k),
      r2 AS MATERIALIZED (
        SELECT id, row_number() OVER (ORDER BY nat,
          CAST(floor(bal * 100 + 0.5) AS BIGINT), id) AS rn
        FROM recs),
      p2 AS MATERIALIZED (
        SELECT a.id AS id_a, b.id AS id_b
        FROM r2 a
        CROSS JOIN (VALUES (1), (2), (3), (4), (5)) o(k)
        JOIN r2 b ON b.rn = a.rn + o.k),
      u AS (
        SELECT DISTINCT id_a, id_b FROM (
          SELECT * FROM p1 UNION ALL SELECT * FROM p2)),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_true_total FROM m),
      st AS (
        SELECT 'name_tail' AS pass,
               CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(sum(CASE WHEN (id_a < 1000000) <> (id_b < 1000000)
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_pairs,
               CAST(sum(CASE WHEN abs(id_a - id_b) = 1000000
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_true_captured
        FROM p1
        UNION ALL
        SELECT 'nation_balance',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN (id_a < 1000000) <> (id_b < 1000000)
                 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(sum(CASE WHEN abs(id_a - id_b) = 1000000
                 THEN 1 ELSE 0 END) AS BIGINT)
        FROM p2
        UNION ALL
        SELECT 'multi_pass',
               CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN (id_a < 1000000) <> (id_b < 1000000)
                 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(sum(CASE WHEN abs(id_a - id_b) = 1000000
                 THEN 1 ELSE 0 END) AS BIGINT)
        FROM u)
      SELECT pass, n_candidates, n_cross_pairs, n_true_captured,
             n_true_total,
             (n_true_captured * 1000000) // n_true_total AS recall_micro
      FROM st CROSS JOIN tot
      ORDER BY pass
    """,

    // Replays BOTH detectors (the llm_near_dup and llm_dup_groups CTE
    // blocks side by side — no name collisions by construction) and
    // the Chapman arithmetic in HUGEINT.
    "llm_dedup_coverage" -> s"""
      WITH $shinglesCte,
      sigs AS (SELECT doc_id, $minhashSigs FROM expl GROUP BY doc_id),
      bands AS ($bandKeys),
      mcand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      sets AS (
        SELECT doc_id, list(s) AS ss, count(*) AS c
        FROM expl GROUP BY doc_id),
      mpairs AS (
        SELECT doc_a, doc_b FROM (
          SELECT doc_a, doc_b,
                 ${round6sql(
                   "len(list_intersect(x.ss, y.ss)) / CAST(x.c + y.c - len(list_intersect(x.ss, y.ss)) AS DOUBLE)")}
                   AS jaccard
          FROM mcand
          JOIN sets x ON doc_a = x.doc_id
          JOIN sets y ON doc_b = y.doc_id)
        WHERE jaccard >= 0.5),
      $simhashPairsCte,
      spairs AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE bit_count(xor(sim_a, sim_b)) <= 3),
      m1 AS (SELECT DISTINCT d FROM (
        SELECT doc_a AS d FROM mpairs UNION ALL SELECT doc_b FROM mpairs)),
      m2 AS (SELECT DISTINCT d FROM (
        SELECT doc_a AS d FROM spairs UNION ALL SELECT doc_b FROM spairs)),
      st AS (
        SELECT CAST((SELECT count(*) FROM m1) AS BIGINT) AS n1,
               CAST((SELECT count(*) FROM m2) AS BIGINT) AS n2,
               CAST((SELECT count(*) FROM m1 JOIN m2 USING (d))
                 AS BIGINT) AS overlap,
               CAST((SELECT count(*) FROM
                 (SELECT d FROM m1 UNION SELECT d FROM m2)) AS BIGINT)
                 AS n_union)
      SELECT n1, n2, overlap, n_union,
             CAST((CAST(n1 + 1 AS HUGEINT) * (n2 + 1)) // (overlap + 1) - 1
               AS BIGINT) AS chapman_est,
             CAST(greatest(
               (CAST(n1 + 1 AS HUGEINT) * (n2 + 1)) // (overlap + 1) - 1
                 - n_union, 0) AS BIGINT) AS est_missed
      FROM st
    """,

    "llm_url_dedup" -> s"""
      WITH u AS (
        SELECT doc_id,
          (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END)
          || '://WWW.' || source || '.Example.COM'
          || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
          || '/docs/' || CAST(doc_id % 50 AS VARCHAR)
          || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed'
                   WHEN doc_id % 3 = 1 THEN '?id=' || CAST(doc_id % 50 AS VARCHAR) || '&utm_campaign=x'
                   ELSE '?id=' || CAST(doc_id % 50 AS VARCHAR) END)
          || (CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END) AS url
        FROM documents),
      parts AS (
        SELECT doc_id, url,
          lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
          lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS host,
          regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$$', 1) AS rest
        FROM u),
      canon AS (
        SELECT doc_id, CASE
          WHEN NOT regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*://') THEN url
          ELSE scheme ||
          '://' ||
          (CASE WHEN scheme = 'https' THEN regexp_replace(host, ':443$$', '')
                WHEN scheme = 'http'  THEN regexp_replace(host, ':80$$', '')
                ELSE host END) ||
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            rest, '#.*$$', ''),
            '\\?utm_[A-Za-z0-9_]*=[^&#]*&', '?'),
            '\\?utm_[A-Za-z0-9_]*=[^&#]*$$', ''),
            '&utm_[A-Za-z0-9_]*=[^&#]*', ''),
            '\\?$$', '') END AS canonical_url
        FROM parts)
      SELECT min(doc_id) AS doc_id, canonical_url,
             CAST(count(*) AS BIGINT) AS n_copies
      FROM canon GROUP BY canonical_url ORDER BY doc_id
    """,

    // Replays the memoryless boundary rule (md5(word) mod 4) and the
    // window-cumsum chunk assignment; chunk identity is md5 of the
    // reassembled chunk text in both engines.
    "llm_cdc_chunks" -> s"""
      WITH aug AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 25 = 0 THEN text || ' $Boilerplate'
                    ELSE text END AS text
        FROM documents),
      w AS (SELECT doc_id, source, generate_subscripts(ws, 1) - 1 AS pos,
                   unnest(ws) AS w
            FROM (SELECT doc_id, source, string_split(text, ' ') AS ws
                  FROM aug)),
      b AS (SELECT doc_id, source, pos, w,
                   CASE WHEN CAST('0x' || substr(md5('cdc|' || w), 1, 15)
                             AS BIGINT) % 4 = 0 THEN 1 ELSE 0 END AS bdy
            FROM w),
      cn AS (SELECT doc_id, source, pos, w,
                    COALESCE(sum(bdy) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS chunk_no
             FROM b),
      ch AS (SELECT source, md5(string_agg(w, ' ' ORDER BY pos)) AS chash,
                    CAST(count(*) AS BIGINT) AS n_words
             FROM cn GROUP BY doc_id, source, chunk_no),
      per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
                     CAST(sum(n_words) AS BIGINT) AS total_words
              FROM ch GROUP BY source),
      st AS (SELECT source, CAST(count(*) AS BIGINT) AS n_distinct,
                    CAST(sum(cw) AS BIGINT) AS distinct_words
             FROM (SELECT source, chash, min(n_words) AS cw
                   FROM ch GROUP BY source, chash)
             GROUP BY source),
      ga AS (SELECT CAST(count(*) AS BIGINT) AS n_chunks,
                    CAST(sum(n_words) AS BIGINT) AS total_words FROM ch),
      gs AS (SELECT CAST(count(*) AS BIGINT) AS n_distinct,
                    CAST(sum(cw) AS BIGINT) AS distinct_words
             FROM (SELECT chash, min(n_words) AS cw FROM ch GROUP BY chash))
      SELECT source, n_chunks, n_distinct, total_words, distinct_words,
             ${round6sql(
               "1.0 - CAST(distinct_words AS DOUBLE) / CAST(total_words AS DOUBLE)")}
               AS savings_ratio,
             ${round6sql(
               "CAST(total_words AS DOUBLE) / CAST(n_chunks AS DOUBLE)")}
               AS avg_chunk_words
      FROM (SELECT p.source, n_chunks, n_distinct, total_words, distinct_words
            FROM per p JOIN st USING (source)
            UNION ALL
            SELECT '__ALL__', ga.n_chunks, gs.n_distinct, ga.total_words,
                   gs.distinct_words
            FROM ga, gs)
      ORDER BY source
    """,

    // INDEPENDENT algorithm: the quadratic NOT-EXISTS dominance test
    // (the textbook skyline definition, no pruning).
    "llm_skyline" -> s"""
      WITH d AS (SELECT doc_id, n_chars, string_split(text, ' ') AS ws
                 FROM documents),
      sc AS (SELECT doc_id,
                    CAST(floor(($qualitySqlCol) * 1000000.0 + 0.5)
                      AS BIGINT) AS q_micro,
                    n_chars
             FROM d)
      SELECT r.doc_id, r.q_micro, r.n_chars
      FROM sc r
      WHERE NOT EXISTS (
        SELECT 1 FROM sc s
        WHERE s.q_micro >= r.q_micro AND s.n_chars >= r.n_chars
          AND (s.q_micro > r.q_micro OR s.n_chars > r.n_chars))
      ORDER BY r.doc_id
    """,
  )
}
