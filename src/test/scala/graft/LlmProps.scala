package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._
import graft.llm.{EventOps, TextOps, VectorOps}

/** Property-based checks for the LLM operators. Few iterations — each
  * case runs Spark jobs.
  */
object LlmProps extends Properties("LlmOps") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(4)

  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "eps",
    "zeta", "eta", "theta", "iota", "kappa")
  private val docGen: Gen[String] = for {
    n <- Gen.choose(8, 25)
    ws <- Gen.listOfN(n, Gen.oneOf(vocab))
  } yield ws.mkString(" ")

  /** Corpus with planted exact duplicates: every doc appears once, some
    * twice (even id = original, odd id = copy of the previous even doc
    * when `dup`).
    */
  private val corpusGen: Gen[Seq[(Long, String)]] = for {
    docs <- Gen.listOfN(8, docGen)
    dups <- Gen.listOfN(8, Gen.oneOf(true, false))
  } yield docs.zip(dups).zipWithIndex.flatMap { case ((d, dup), i) =>
    val base = Seq((i * 2L, d))
    if (dup) base :+ ((i * 2L + 1, d)) else base
  }

  property("MinHash-LSH always surfaces planted exact duplicates at jaccard 1.0") =
    forAll(corpusGen) { corpus =>
      val df = corpus.toDF("doc_id", "text")
      val pairs = TextOps.nearDupPairs(df, "doc_id", "text")
        .select("doc_a", "doc_b", "jaccard")
        .as[(Long, Long, Double)].collect()
      val planted = corpus.groupBy(_._2).values.filter(_.size > 1)
        .map(g => (g.map(_._1).min, g.map(_._1).max)).toSet
      val found = pairs.filter(_._3 == 1.0).map(p => (p._1, p._2)).toSet
      // identical shingle sets -> identical signatures -> same band keys:
      // an exact dup pair can never be missed
      planted.subsetOf(found)
    }

  private val hashCorpusGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(6, 14)
    bases <- Gen.listOfN(n, Gen.choose(0L, (1L << 60) - 1))
    flips <- Gen.listOfN(n, Gen.choose(0, 59))
    near <- Gen.listOfN(n, Gen.oneOf(true, false))
  } yield bases.zip(flips.zip(near)).zipWithIndex.flatMap {
    case ((h, (b, isNear)), i) =>
      // even id = base hash; odd id (when planted) = base with ≤3 bits
      // flipped, so some pairs land inside the radius and some outside
      val base = Seq((i * 2L, h))
      if (isNear) base :+ ((i * 2L + 1, h ^ (1L << b) ^ (1L << ((b + 17) % 60))))
      else base
  }

  property("combinatorial subset blocking equals single-chunk blocking AND brute force") =
    forAll(hashCorpusGen, Gen.choose(0, (1 << 28) - 1)) { (hashes, probeMask) =>
      val df = hashes.toDF("doc_id", "simhash")
      def run(f: => org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
        f.select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect().toSet
      val blocked = run(TextOps.hammingNearDupPairsBlocked(
        df, "doc_id", "simhash", maxHamming = 3, chunks = 6, bits = 60))
      val single = run(TextOps.hammingNearDupPairs(
        df, "doc_id", "simhash", maxHamming = 3, chunks = 4, bits = 60))
      // the probe form over a random subset of the corpus (ids < 28)
      def isProbe(id: Long) = ((probeMask >> id.toInt) & 1) == 1
      val probe = run(TextOps.hammingNearDupProbe(df,
        hashes.filter(h => isProbe(h._1)).toDF("doc_id", "simhash"),
        "doc_id", "simhash", maxHamming = 3, chunks = 4, bits = 60))
      val brute = (for {
        (a, ha) <- hashes; (b, hb) <- hashes if a < b
        d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
      } yield (a, b, d)).toSet
      blocked == brute && single == brute &&
        probe == brute.filter(p => isProbe(p._1) || isProbe(p._2))
    }

  /** Distinct (k1, k2, doc) rows: a two-column bucket key and up to 24
    * docs, so buckets range from empty to a dozen members. */
  private val keyedGen: Gen[Seq[(Int, Int, Long)]] = for {
    n <- Gen.choose(4, 48)
    rows <- Gen.listOfN(n, for {
      k1 <- Gen.choose(0, 2); k2 <- Gen.choose(0, 1)
      doc <- Gen.choose(0L, 23L)
    } yield (k1, k2, doc))
  } yield rows.distinct

  property("bucketPairs: all pairs under a cap >= every bucket, else cold pairs plus the min-doc star") =
    forAll(keyedGen, Gen.choose(0, 3), Gen.choose(1, 100)) { (rows, slack, pick) =>
      // the carried column is a function of the doc, as in every caller
      def v(doc: Long) = doc * 7 + 3
      val keyed = rows.map { case (k1, k2, d) => (k1, k2, d, v(d)) }
        .toDF("k1", "k2", "doc", "v")
      def run(cap: Int) = TextOps.bucketPairs(keyed, Seq("k1", "k2"),
          carry = Seq("v"), hotCap = cap)
        .select("doc_a", "doc_b", "v_a", "v_b")
        .as[(Long, Long, Long, Long)].collect().toSet
      val buckets = rows.groupBy(r => (r._1, r._2)).values
        .map(_.map(_._3)).toSeq
      def withV(ps: Iterable[(Long, Long)]) =
        ps.map { case (a, b) => (a, b, v(a), v(b)) }.toSet
      def all(docs: Seq[Long]) =
        for (a <- docs; b <- docs if a < b) yield (a, b)
      val brute = withV(buckets.flatMap(all))
      val largest = buckets.map(_.size).max
      // a cap below the largest bucket: every hot-bucket member pairs
      // with its bucket's min doc, every cold-bucket pair is kept
      val cap = if (largest > 1) 1 + pick % (largest - 1) else 1
      val cold = buckets.filter(_.size <= cap).flatMap(all)
      val star = buckets.filter(_.size > cap)
        .flatMap(b => b.filter(_ != b.min).map(d => (b.min, d)))
      run(Int.MaxValue) == brute && run(largest + slack) == brute &&
        run(cap) == withV(cold ++ star)
    }

  property("setSimJoin equals brute-force exact Jaccard on random corpora") =
    forAll(corpusGen) { corpus =>
      val df = corpus.toDF("doc_id", "text")
      val got = TextOps.setSimJoin(df, "doc_id", "text")
        .select("doc_a", "doc_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      // driver-side brute force over the same 3-shingle sets
      def shingles(t: String): Set[String] =
        t.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
      val sets = corpus.map { case (id, t) => (id, shingles(t)) }
        .filter(_._2.nonEmpty)
      val brute = (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        inter = (sa & sb).size
        j = math.floor(inter.toDouble / (sa.size + sb.size - inter) * 1e6 + 0.5) / 1e6
        if j >= 0.5
      } yield (a, b, j)).toSet
      got == brute
    }

  private val vecGen: Gen[Array[Float]] =
    Gen.listOfN(8, Gen.choose(-1000, 1000)).map(_.map(_ / 1000.0f).toArray)

  property("annLsh with bits=0 degenerates to exact topK") =
    forAll(Gen.listOfN(12, vecGen)) { vecs =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding"),
          VectorOps.quantize(col("embedding")).as("qv"))
      val qs = df.filter(col("vec_id") % 4 === 0)
      val exact = VectorOps.topK(df, qs, "vec_id", "qv", k = 3)
        .select("query_id", "rank", "vec_id")
        .as[(Long, Int, Long)].collect().toSet
      val ann = VectorOps.annLsh(df, qs, "vec_id", "qv", "embedding", k = 3, bits = 0)
        .select("query_id", "rank", "vec_id")
        .as[(Long, Int, Long)].collect().toSet
      ann == exact
    }

  property("ivfTopK probing ALL centroid lists degenerates to exact topK") =
    forAll(Gen.listOfN(12, vecGen)) { vecs =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
        .select(col("vec_id"), VectorOps.quantize(col("embedding")).as("qv"))
      val qs = df.filter(col("vec_id") % 4 === 0)
      val cents = df.filter(col("vec_id") % 3 === 0)
      val exact = VectorOps.topK(df, qs, "vec_id", "qv", k = 3)
        .select("query_id", "rank", "vec_id")
        .as[(Long, Int, Long)].collect().toSet
      // every corpus vector lives in exactly one list; probing every list
      // makes the candidate set the whole corpus -> identical to exact
      val ivf = VectorOps.ivfTopK(df, qs, cents, "vec_id", "qv", k = 3, nProbe = 4)
        .select("query_id", "rank", "vec_id")
        .as[(Long, Int, Long)].collect().toSet
      ivf == exact
    }

  private val eventGen: Gen[Seq[(Long, Long, Int, String)]] = for {
    n <- Gen.choose(5, 30)
    evs <- Gen.listOfN(n, for {
      user <- Gen.choose(0L, 3L)
      minute <- Gen.choose(0, 200)
      typ <- Gen.oneOf("view", "click", "purchase", "other")
    } yield (user, minute.toLong, typ))
  } yield evs.zipWithIndex.map { case ((u, m, t), i) => (i.toLong, u, m.toInt, t) }

  property("lineDedup drops exactly the planted shared line; unique docs round-trip") =
    forAll(Gen.listOfN(5, Gen.choose(1, 4)), Gen.listOfN(5, Gen.oneOf(vocab))) {
      (nLines, fillers) =>
        // doc i gets nLines(i) lines unique to it (id embedded); every
        // EVEN doc also gets the same planted banner line appended
        val docs = nLines.zip(fillers).zipWithIndex.map { case ((n, w), i) =>
          val own = (0 until n).map(j => s"line_${i}_$j $w")
          val all = if (i % 2 == 0) own :+ "shared banner line" else own
          (i.toLong, all.mkString("\n"))
        }
        val got = TextOps.lineDedup(docs.toDF("doc_id", "text"), "doc_id", "text")
          .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
        docs.forall { case (id, text) =>
          val (_, nl, nd, clean) = got(id)
          val lines = text.split("\n", -1)
          if (id % 2 == 0)
            nl == lines.length && nd == 1L &&
              clean == lines.init.mkString("\n") // banner was last
          else
            nl == lines.length && nd == 0L && clean == text
        }
    }

  property("PageRank mass stays within [0, SCALE]; isolated nodes hold the damped base") =
    forAll(
      Gen.listOf(Gen.zip(Gen.choose(1L, 5L), Gen.choose(1L, 5L))).map(_.filter(e => e._1 != e._2)),
      Gen.choose(0, 3)) { (edges, iters) =>
      val nodes = (1L to 6L).toSeq // node 6 never appears in an edge
      val r = graft.operators.PageRank.run(
        edges.toDF("src", "dst"), nodes.toDF("id"), iters)
        .as[(Long, Long)].collect().toMap
      val base = (graft.operators.PageRank.Scale * 15) / (100 * nodes.length)
      r.values.forall(v => v >= 0 && v <= graft.operators.PageRank.Scale) &&
        r.values.sum <= graft.operators.PageRank.Scale &&
        (iters == 0 || r(6L) == base)
    }

  property("BPE pair counts conserve total adjacent-pair mass") =
    forAll(Gen.listOfN(12, Gen.choose(1, 5).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString)))) { words =>
      val df = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      val got = TextOps.bpePairCounts(df, "text", topK = 1000)
        .as[(Int, String, Long)].collect()
      val want = words.groupBy(identity).map { case (w, g) =>
        g.size.toLong * math.max(w.length - 1, 0)
      }.sum
      got.map(_._3).sum == want
    }

  property("funnel matches a driver-side brute force on random event streams") =
    forAll(eventGen) { evs =>
      val df = evs.map { case (id, u, m, t) =>
        (id, java.sql.Timestamp.valueOf(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00"), u, t)
      }.toDF("event_id", "ts", "user_id", "event_type")
      val got = EventOps.funnel(df, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
        .select("user_id", "reached").as[(Long, Int)].collect().toMap

      val steps = Seq("view", "click", "purchase")
      val want = evs.groupBy(_._2).flatMap { case (u, rows) =>
        // brute force: earliest step 1, then earliest strictly-later step k
        val byType = steps.map(s => s -> rows.filter(_._4 == s).map(_._3).sorted)
        var reached = 0
        var t = Int.MinValue
        var stalled = false
        byType.foreach { case (_, times) =>
          if (!stalled) {
            val next = times.find(x => if (reached == 0) true else x > t)
            next match {
              case Some(x) => t = x; reached += 1
              case None => stalled = true
            }
          }
        }
        if (reached >= 1) Some(u -> reached) else None
      }
      got == want
    }

  private val urlGen: Gen[String] = for {
    scheme <- Gen.oneOf("http", "https", "HTTPS", "Http")
    host <- Gen.oneOf("Ex.COM", "www.ex.com", "A.B.Example.ORG")
    port <- Gen.oneOf("", ":443", ":80", ":8080")
    path <- Gen.oneOf("", "/", "/a", "/A/b.html", "/p&q/r")
    query <- Gen.oneOf("", "?id=1", "?utm_source=x", "?id=1&utm_medium=m",
      "?utm_campaign=c&id=2", "?next=utm_source")
    frag <- Gen.oneOf("", "#top", "#a-b")
  } yield s"$scheme://$host$port$path$query$frag"

  property("canonicalizeUrl is idempotent: canon(canon(u)) == canon(u)") =
    forAll(Gen.listOfN(12, urlGen)) { urls =>
      val once = urls.toDF("u")
        .select(TextOps.canonicalizeUrl(col("u")).as("c"))
      val twice = once.select(TextOps.canonicalizeUrl(col("c")).as("c"))
      once.as[String].collect().toSeq == twice.as[String].collect().toSeq
    }

  property("waterFill allocates the budget exactly and never over-draws a source") =
    forAll(
      Gen.listOfN(9, Gen.choose(1L, 500L)),
      Gen.choose(0.1, 0.99)) { (avails, frac) =>
      val df = avails.zipWithIndex.map { case (a, i) => (s"s$i", a) }
        .toDF("src", "avail")
      val total = avails.sum
      val budget = (total * frac).toLong
      val rows = TextOps.waterFill(df, "src", "avail", budget)
        .as[(String, Long, Long, Boolean)].collect()
      val byKey = avails.zipWithIndex.map { case (a, i) => s"s$i" -> a }.toMap
      rows.map(_._3).sum == budget &&
        rows.forall { case (k, _, alloc, _) => alloc <= byKey(k) } &&
        rows.forall { case (_, av, alloc, sat) => !sat || alloc == av }
    }

  property("waterFill with budget >= total hands every source its availability") =
    forAll(Gen.listOfN(6, Gen.choose(1L, 100L))) { avails =>
      val df = avails.zipWithIndex.map { case (a, i) => (s"s$i", a) }
        .toDF("src", "avail")
      val rows = TextOps.waterFill(df, "src", "avail", avails.sum + 7)
        .as[(String, Long, Long, Boolean)].collect()
      rows.forall { case (_, av, alloc, sat) => alloc == av && sat }
    }

  property("bloomAntiJoin equals plain left_anti on random key sets") =
    forAll(
      Gen.listOfN(40, Gen.choose(0L, 60L)),
      Gen.listOfN(15, Gen.choose(0L, 60L))) { (probeKeys, baseKeys) =>
      val probe = probeKeys.zipWithIndex
        .map { case (k, i) => (i.toLong, s"key_$k") }.toDF("id", "k")
      val base = baseKeys.map(k => s"key_$k").toDF("k")
      val got = graft.operators.BloomOps.bloomAntiJoin(probe, base, "k")
        .select("id").as[Long].collect().sorted.toSeq
      val want = probe.join(base, Seq("k"), "left_anti")
        .select("id").as[Long].collect().sorted.toSeq
      got == want
    }

  property("heavyHitters equals brute-force wordcount at a random support") =
    forAll(Gen.listOfN(5, docGen), Gen.choose(10000L, 200000L)) { (docs, ppm) =>
      val df = docs.toDF("text")
      val got = TextOps.heavyHitters(df, "text", ppm)
        .as[(String, Long)].collect().toMap
      val toks = df.select(explode(split(col("text"), " ")).as("w"))
      val thr = math.max(1L, toks.count() * ppm / 1000000L)
      val want = toks.groupBy("w").count()
        .filter(col("count") >= thr)
        .as[(String, Long)].collect().toMap
      got == want
    }

  property("canonicalizeUrl output carries no fragment, tracker, or default port") =
    forAll(Gen.listOfN(12, urlGen)) { urls =>
      urls.toDF("u").select(TextOps.canonicalizeUrl(col("u")).as("c"))
        .as[String].collect().forall { c =>
          !c.contains("#") && !c.contains("utm_source=x") &&
            !c.contains("utm_medium") && !c.contains("utm_campaign") &&
            !c.endsWith("?") &&
            !(c.startsWith("https://") && c.contains(":443")) &&
            !(c.startsWith("http://") && c.contains(":80/")) // :8080 survives
        }
    }
}
