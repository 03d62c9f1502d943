package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.ops._

/** Dedup / similarity / text / multimodal operator behavior. */
class OpsSpec extends AnyFunSuite {
  import TestSpark._

  private def docs = Tables.load(spark, sf, "documents")
  private def emb = Tables.load(spark, sf, "embeddings")

  test("minhash-LSH candidates recall every true high-Jaccard pair") {
    // exact pairs >= 0.7 must all be produced by the LSH path (16 perms,
    // 4 bands of 4: P(candidate | j=0.7) = 1-(1-0.7^4)^4 ≈ 0.87 per band
    // set; at 0.7+ on this data recall should be total)
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.7)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.nearDuplicates(docs, "doc_id", "text", threshold = 0.7)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(exact == lsh)
  }

  test("jaccard is exact: inter <= min(na, nb), 0 < jac <= 1") {
    val rows = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.3)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (inter, na, nb, jac) = (r.getAs[Long]("inter"), r.getAs[Long]("na"),
        r.getAs[Long]("nb"), r.getAs[Double]("jac"))
      assert(inter <= math.min(na, nb))
      assert(jac > 0 && jac <= 1)
    }
  }

  test("posting-list cap prunes hot shingles but keeps Jaccard exact for survivors") {
    def run(cap: Option[Int]) =
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5,
        maxShinglePostings = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jac")).toMap
    val uncapped = run(None)
    // the DEFAULT (capped) mode is exactly the uncapped result on this
    // corpus — no posting list approaches DefaultShinglePostingsCap
    val byDefault = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jac")).toMap
    assert(byDefault == uncapped)
    // a punishingly tight cap: candidates are a subset; any surviving pair
    // keeps its exact jaccard (verification runs on the FULL shingle sets)
    val tight = run(Some(3))
    assert(tight.keySet.subsetOf(uncapped.keySet))
    tight.foreach { case (k, j) => assert(uncapped(k) == j) }
  }

  test("dedup ops release every persisted intermediate before returning") {
    def persistedIds = spark.sparkContext.getPersistentRDDs.keySet
    val before = persistedIds

    val nd = Dedup.nearDuplicates(docs, "doc_id", "text", threshold = 0.5)
    assert(nd.count() > 0)
    Dedup.release(nd) // result is localCheckpoint-backed; caller frees it
    assert((persistedIds -- before).isEmpty,
      "nearDuplicates leaked persisted RDDs")

    val nj = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5)
    assert(nj.count() > 0)
    Dedup.release(nj)
    assert((persistedIds -- before).isEmpty,
      "ngramJaccardPairs leaked persisted RDDs")

    // contamination returns a plain lazy plan — nothing persists at all
    Seq(None, Some(1000)).foreach { cap =>
      val ct = Dedup.contamination(
        docs.where(col("doc_id") >= 10), docs.where(col("doc_id") < 10),
        "doc_id", "text", minShared = 3, maxShinglePostings = cap)
      ct.count()
      assert((persistedIds -- before).isEmpty,
        s"contamination(cap=$cap) leaked persisted RDDs")
    }

    // driver union-find path of duplicateClusters cleans up after itself
    import spark.implicits._
    val cc = Dedup.duplicateClusters(Seq((1L, 2L), (2L, 3L)).toDF("a", "b"))
    assert(cc.count() == 3)
    assert((persistedIds -- before).isEmpty,
      "duplicateClusters leaked persisted RDDs")
  }

  test("bloom decontamination: no false negatives vs exact, bitmap stays bounded") {
    val corpus = docs.where(col("doc_id") >= 10)
    val probes = docs.where(col("doc_id") < 10)

    // exact contaminated docs (d8 semantics, same minShared)
    val exact = Dedup.contamination(corpus, probes, "doc_id", "text",
        minShared = 3)
      .select(col("c_doc")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(exact.nonEmpty)

    // bloom-flagged docs must be a SUPERSET — a Bloom filter has no false
    // negatives, the one direction decontamination must never err
    val flagged = Dedup.bloomContamination(corpus, probes, "doc_id", "text",
        mBits = 1 << 16, k = 4, minHits = 3)
      .select(col("doc")).collect().map(_.getLong(0)).toSet
    assert(exact.subsetOf(flagged),
      s"bloom missed exact-contaminated docs: ${(exact -- flagged).take(5)}")

    // the bloom's own semantic is the UNION of probe grams (not per-pair
    // like d8): compare against the exact union-count to measure true
    // false positives — at 65536 bits the per-gram FPR is ~2e-4, so the
    // flagged set should match the exact-union set (tiny slack allowed)
    val exactUnion = Dedup.shinglesAuto(corpus, "doc_id", "text")
      .join(Dedup.shinglesAuto(probes, "doc_id", "text")
        .select(col("sh")).distinct(), "sh")
      .groupBy(col("doc")).agg(count(lit(1)).as("hits"))
      .where(col("hits") >= 3)
      .select(col("doc")).collect().map(_.getLong(0)).toSet
    assert(exactUnion.subsetOf(flagged))
    assert(flagged.size <= exactUnion.size + 2,
      s"excessive bloom false positives: ${flagged.size} vs exact-union ${exactUnion.size}")

    // the bitmap is bounded by mBits/32 rows regardless of input size
    val bloomRows = Sketches.bloomBuild(
      Dedup.shinglesAuto(probes, "doc_id", "text").select(col("sh")).distinct(),
      col("sh"), mBits = 1 << 16, k = 4).count()
    assert(bloomRows <= (1 << 16) / 32)

    // a tiny filter saturates: every word present, all bits on per FPR→1,
    // so everything gets flagged — the degenerate-but-safe direction
    val saturated = Dedup.bloomContamination(corpus, probes, "doc_id",
        "text", mBits = 32, k = 2, minHits = 3)
      .select(col("doc")).collect().map(_.getLong(0)).toSet
    assert(exact.subsetOf(saturated))
  }

  test("calibrated gate: achieved rate >= target with minimal over-keep, ties kept") {
    val audit = QualityRules.calibratedGate(docs, "doc_id", "lang", "text",
      targetNum = 7, targetDen = 10).collect()
    val n = audit.map(_.getAs[Long]("n_docs")).sum
    val kept = audit.map(_.getAs[Long]("n_kept")).sum
    val threshold = audit.head.getAs[Long]("threshold")
    assert(kept * 10 >= n * 7, s"kept $kept of $n misses the 70% target")

    // minimal over-keep: raising the cutoff past the boundary score drops
    // below target — the keep-all-ties rule admits no smaller threshold set
    val toks = split(col("text"), " ")
    val scored = docs.select(
        (size(array_distinct(toks)).cast("long") * 10000L).as("_num"),
        greatest(size(toks), lit(1)).cast("long").as("_den"))
      .selectExpr("_num DIV _den AS score")
    val above = scored.where(col("score") > threshold).count()
    assert(above * 10 < n * 7,
      s"threshold not minimal: $above docs above $threshold still meet target")
    // keep-all-ties: every boundary-score doc is in the kept count
    val atOrAbove = scored.where(col("score") >= threshold).count()
    assert(atOrAbove == kept)
  }

  test("runConcurrently rethrows a thunk's own exception, unwrapped") {
    val boom = new IllegalStateException("boom")
    val thrown = intercept[Throwable](Similarity.runConcurrently[Int](spark,
      Seq(() => 1, () => throw boom)))
    assert(thrown eq boom)
  }

  test("runConcurrently of no thunks is Nil") {
    assert(Similarity.runConcurrently[Int](spark, Nil) == Nil)
  }

  test("MMR: lambda=1 is pure relevance; diversity skips the duplicate") {
    import spark.implicits._
    def vec(x: Float, y: Float) = Array.fill(64)(0f)
      .updated(0, x).updated(1, y)
    // corpus: two IDENTICAL vectors right next to the query, one slightly
    // farther but distinct
    val corpus = Seq(
      (10L, vec(1.0f, 0.0f)), // dup A — nearest
      (11L, vec(1.0f, 0.0f)), // dup B — same point, larger id
      (12L, vec(0.8f, 0.5f))  // distinct, farther
    ).toDF("vec_id", "embedding")
    val queries = Seq((0L, vec(1.0f, 0.1f))).toDF("vec_id", "embedding")

    // pure relevance (lambda=1): the duplicate crowds the answer
    val rel = Similarity.mmrTopK(corpus, queries, k = 2, kCand = 3,
        lambdaNum = 1, lambdaDen = 1)
      .orderBy(col("round")).collect().map(_.getLong(2)).toSeq
    assert(rel == Seq(10L, 11L), s"lambda=1 must rank by distance: $rel")

    // balanced lambda: round 2 must skip the redundant twin (its distance
    // to the picked round-1 result is ZERO) and take the distinct vector.
    // With squared-distance magnitudes the crossover here is at
    // λ = 2.9/4.8 ≈ 0.60, so λ = 1/2 diversifies and λ = 1 (above) doesn't.
    val div = Similarity.mmrTopK(corpus, queries, k = 2, kCand = 3,
        lambdaNum = 1, lambdaDen = 2)
      .orderBy(col("round")).collect().map(_.getLong(2)).toSeq
    assert(div == Seq(10L, 12L), s"MMR must diversify past the dup: $div")

    // no repeats, full round coverage on the real fixture
    val full = Similarity.mmrTopK(emb, emb.where(col("vec_id") < 3), k = 4)
    val rows = full.collect()
    assert(rows.length == 12)
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == Seq(1, 2, 3, 4))
      assert(rs.map(_.getLong(2)).distinct.length == 4,
        s"query $q repeated a pick")
    }
    graft.ops.Dedup.release(full)
  }

  test("oversized / duplicated shortlists are trimmed and de-duped, not passed through") {
    import spark.implicits._
    val qv = org.apache.spark.sql.graft.QuantOps
    val probes = emb.where(col("vec_id") < 3)
    val cc = emb.select(col("vec_id").as("v"),
      qv.quantize(col("embedding"), 64, 1000000L).as("_cv"))
    val qq = probes.select(col("vec_id").as("q"),
      qv.quantize(col("embedding"), 64, 1000000L).as("_qq"))
    val kCand = 4
    // a 3×kCand shortlist: for each probe, the 12 nearest by exact rel
    val wide = Similarity.mmrCandidates(cc, qq, 3 * kCand, None)
      .select(col("q"), col("v"))
    // trimming is by EXACT rel, so the oversized pool must reduce to the
    // kCand-trimmed one — and the pool row count is bounded by q × kCand
    // (MMR pair cost is |pool|² per round; an unbounded pass-through
    // would quadruple it silently)
    val trimmed = Similarity.mmrCandidates(cc, qq, kCand, None)
      .select(col("q"), col("v")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pool = Similarity.mmrCandidates(cc, qq, kCand, Some(wide))
    val got = pool.select(col("q"), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == trimmed, s"shortlist pool must trim to top-kCand by rel")
    assert(pool.count() <= 3L * kCand, "pool rows must be bounded by q × kCand")
    // duplicate shortlist rows must not double-rank a vector: hardNegatives
    // over sl ∪ sl ≡ hardNegatives over sl
    val sl = wide.limit(6)
    def mined(s: org.apache.spark.sql.DataFrame) =
      Similarity.hardNegatives(emb, probes, k = 3,
          dupMaxD2 = 1L, posMaxD2 = 2000000000000L, shortlist = Some(s))
        .orderBy(col("q"), col("role"), col("rank"))
        .collect().map(_.toString).toSeq
    assert(mined(sl.union(sl)) == mined(sl),
      "a duplicated shortlist must mine the same triplets")
  }

  test("substring dedup catches misaligned duplicated runs; first occurrence survives") {
    import spark.implicits._
    val run = (1 to 10).map(i => s"t$i").mkString(" ")
    val fixture = Seq(
      (1L, s"$run tail1 tail2"),          // first occurrence of the run
      (2L, s"pre1 pre2 pre3 $run"),       // same run at OFFSET 3 (misaligned)
      (3L, "too short to window")          // shorter than the window
    ).toDF("doc_id", "text")
    val out = SpanDedup.substringDedup(fixture, "doc_id", "text",
      windowTokens = 10).collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap

    // doc 1 keeps everything (owner); doc 3 untouched (no windows)
    assert(out(1L) == ((12L, 0L,
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$run tail1 tail2".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)))
    assert(out(3L)._2 == 0L)
    // doc 2: the run duplicates doc 1's at a NON-chunk-aligned offset —
    // the fixed-grid dedupSpans(chunkWords=10) cannot see it, stride-1 must
    assert(out(2L)._1 == 13L && out(2L)._2 == 10L,
      s"misaligned duplicate run must be removed: ${out(2L)}")
    assert(out(2L)._3 == java.security.MessageDigest.getInstance("MD5")
      .digest("pre1 pre2 pre3".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString)
    val chunked = SpanDedup.dedupSpans(fixture, "doc_id", "text",
      chunkWords = 10).where(col("doc") === 2).head
    assert(chunked.getAs[Int]("n_dropped") == 0,
      "the aligned-chunk baseline is blind to this duplicate — that contrast is the point")
  }

  test("simhash of identical texts collide; near-dups have low hamming") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy cat again and again"),
      (4L, "completely different words entirely unrelated content here now")
    ).toDF("doc_id", "text")
    val sim = Dedup.simhash(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sim(1L) == sim(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sim(1L), sim(3L)) < ham(sim(1L), sim(4L)))
    val pairs = Dedup.simhashNearDups(
      Dedup.simhash(d, "doc_id", "text"), maxDist = 0).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
  }

  test("brute-force top-k: ranks are 1..k, self excluded, cosine in [-1,1]") {
    val top = Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 3), 5)
      .collect()
    assert(top.length == 15)
    top.foreach { r =>
      assert(r.getAs[Long]("q") != r.getAs[Long]("v"))
      assert(math.abs(r.getAs[Double]("cos_sim")) <= 1.0001)
    }
    val ranks = top.groupBy(_.getAs[Long]("q")).values
    ranks.foreach(rs => assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 5)))
  }

  test("LSH top-k is a subset-ranking consistent with brute force") {
    val bf = Similarity.bruteForceTopK(emb, emb.where(col("vec_id") === 0), 100)
      .collect().map(r => r.getAs[Long]("v") -> r.getAs[Double]("cos_sim")).toMap
    val lsh = Similarity.lshTopK(emb, emb.where(col("vec_id") === 0), 5)
      .collect()
    // every LSH result's cosine must equal the brute-force cosine for that id
    lsh.foreach { r =>
      val v = r.getAs[Long]("v")
      bf.get(v).foreach(c => assert(c == r.getAs[Double]("cos_sim")))
    }
  }

  test("IVF search: high recall vs brute force at a fraction of the candidates") {
    val (indexed, centers) = Similarity.ivfIndex(emb, nCells = 8)
    indexed.cache()
    val queries = emb.where(col("vec_id") < 20)
    val ivf = Similarity.ivfTopK(indexed, centers, queries, k = 5, nProbe = 3)
      .collect().map(r => (r.getAs[Long]("q"), r.getAs[Long]("v"))).toSet
    val bf = Similarity.bruteForceTopK(emb, queries, 5)
      .collect().map(r => (r.getAs[Long]("q"), r.getAs[Long]("v"))).toSet
    val recall = ivf.intersect(bf).size.toDouble / bf.size
    indexed.unpersist()
    assert(recall >= 0.5, s"IVF recall too low: $recall") // 3/8 cells probed
    // candidates per probe are cell-bounded, not the whole corpus
    val cellSizes = indexed.groupBy("cell").count().collect().map(_.getLong(1))
    assert(cellSizes.sum == emb.count() && cellSizes.length == 8)
  }

  test("PQ: codes cover every vector in range, ADC distance is exact per code, top-1 recalls") {
    val codebooks = Similarity.pqFit(emb, m = 4, codebookK = 8, iters = 1,
      dims = 64)
    assert(codebooks.length == 4 &&
      codebooks.forall(cb => cb.length == 8 && cb.forall(_.length == 16)))
    val codes = Similarity.pqEncode(emb, codebooks, dims = 64).collect()
    assert(codes.length == emb.count())
    codes.foreach { r =>
      (0 until 4).foreach { i =>
        val c = r.getAs[Int](s"code_$i")
        assert(c >= 0 && c < 8)
      }
    }
    // ADC distance of one (query, vector) pair recomputed by hand from
    // the codebooks must equal the operator's output exactly
    val top = Similarity.pqTopK(emb, emb.where(col("vec_id") === 0), k = 3)
      .collect()
    assert(top.map(_.getAs[Int]("rank")).sorted.toSeq == Seq(1, 2, 3))
    val q0 = emb.where(col("vec_id") === 0)
      .select(col("embedding")).collect()(0)
      .getAs[scala.collection.Seq[Float]](0)
    val codeOf = codes.map(r => r.getAs[Long]("vec_id") ->
      (0 until 4).map(i => r.getAs[Int](s"code_$i"))).toMap
    top.foreach { r =>
      val v = r.getAs[Long]("v")
      val expect = (0 until 4).map { i =>
        val cb = codebooks(i)(codeOf(v)(i))
        (0 until 16).map { d =>
          val qd = math.round(q0(i * 16 + d).toDouble * 1000000L)
          val diff = qd - cb(d); diff * diff
        }.sum
      }.sum
      assert(r.getAs[Long]("adc") == expect, s"ADC mismatch for v=$v")
    }
  }

  test("resample ffill: per-key grid from own span, gaps carry last value") {
    import TestSpark.spark.implicits._
    // key A observes buckets 10, 13; key B only bucket 5 — grids must not
    // leak across keys and every gap carries the prior value
    val df = Seq(
      ("A", 10L * 100 + 1, 1.0), ("A", 10L * 100 + 7, 2.0),
      ("A", 13L * 100 + 2, 9.0), ("B", 5L * 100 + 0, 4.0))
      .toDF("k", "ts", "v")
    val out = graft.ops.Resample.ffill(df, "k", "ts", "v", intervalMs = 100L)
      .orderBy("k", "bucket")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      ("A", 10L, false, 3.0), ("A", 11L, true, 3.0), ("A", 12L, true, 3.0),
      ("A", 13L, false, 9.0), ("B", 5L, false, 4.0)))
  }

  test("LSH buckets partition the corpus (sum of buckets = corpus size)") {
    val total = emb.count()
    val bucketed = emb.select(
      Similarity.lshSignature(col("embedding"), 4, 64).as("b"))
      .groupBy("b").count().collect()
    assert(bucketed.map(_.getAs[Long]("count")).sum == total)
    assert(bucketed.length > 4) // actually spreads across buckets
  }

  test("dropNearDuplicates keeps the lowest id of each near-dup pair") {
    val pairs = Dedup.nearDuplicates(docs, "doc_id", "text", threshold = 0.5)
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", pairs)
    val losers = pairs.select("b").collect().map(_.getLong(0)).toSet
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(losers.nonEmpty)
    assert(keptIds.intersect(losers).isEmpty)
    assert(keptIds.size == docs.count() - losers.size)
  }

  test("duplicateClusters resolves transitive chains to one min-labelled component") {
    import spark.implicits._
    // chain 1-2, 2-3, 3-4 = one cluster labelled 1; isolated pair 10-11;
    // greedy dropNearDuplicates would over-keep on the chain (keeps 1 and 3)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // the distributed label-propagation loop (big-graph path) agrees with
    // the driver-side union-find fast path
    val loop = Dedup.duplicateClusters(pairs, driverEdgeLimit = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(loop == got)
  }

  test("duplicateClusters matches BFS reachability on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (0 until 15).foreach { trial =>
      val nNodes = 2 + rnd.nextInt(40)
      val nEdges = 1 + rnd.nextInt(60)
      val edges = (0 until nEdges).map { _ =>
        val a = rnd.nextInt(nNodes).toLong
        val b = rnd.nextInt(nNodes).toLong
        if (a <= b) (a, b + 1) else (b, a) // a < b, allow self-adjacent ids
      }.distinct
      // independent reference: BFS closure with min-label per component
      val adj = scala.collection.mutable.Map[Long, List[Long]]().withDefaultValue(Nil)
      edges.foreach { case (a, b) => adj(a) ::= b; adj(b) ::= a }
      val expected = scala.collection.mutable.Map[Long, Long]()
      adj.keys.toSeq.sorted.foreach { start =>
        if (!expected.contains(start)) {
          val comp = scala.collection.mutable.Set[Long]()
          var frontier = List(start)
          while (frontier.nonEmpty) {
            val next = frontier.flatMap(n =>
              if (comp.add(n)) adj(n) else Nil)
            frontier = next
          }
          val label = comp.min
          comp.foreach(n => expected(n) = label)
        }
      }
      val got = Dedup.duplicateClusters(edges.toDF("a", "b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected.toMap, s"trial $trial edges=$edges")
    }
  }

  test("duplicateClusters releases superseded rounds' checkpoint storage (ADVICE r2)") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // a longer chain forces several convergence rounds (driverEdgeLimit = 0
    // pins the distributed loop — the storage-release path under test)
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val clusters = Dedup.duplicateClusters(pairs, driverEdgeLimit = 0)
    assert(clusters.collect().map(_.getLong(1)).toSet == Set(1L))
    // only the final round's labels checkpoint may remain persisted —
    // superseded rounds and the mirrored edge list must have been released
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1, s"leaked ${leaked.size} persisted RDDs: $leaked")
  }

  test("as-of join picks the latest right row at-or-before each left ts") {
    import spark.implicits._
    import graft.ops.AsOf
    val left = Seq(
      ("u1", 100L, "p1"), // after r@50 and r@100 -> sees the simultaneous 100
      ("u1", 60L, "p2"),  // after r@50 only
      ("u1", 10L, "p3"),  // before any right row -> NULL
      ("u2", 500L, "p4")  // key with no right rows at all -> NULL
    ).toDF("k", "ts", "tag")
    val right = Seq(
      ("u1", 50L, 7L),
      ("u1", 100L, 8L),
      ("u1", 100L, 9L), // tie on (key, ts): greatest value wins
      ("u1", 200L, 10L) // in the future of every left row -> never picked
    ).toDF("k", "ts", "v")
    val got = AsOf.join(left, right, "k", "ts", Seq("v"))
      .select($"tag", $"asof_v").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(got == Map("p1" -> 9L, "p2" -> 7L, "p3" -> -1L, "p4" -> -1L))
  }

  test("as-of join: a matched right row with a NULL value yields NULL, " +
      "and multi-column picks never mix right rows") {
    import spark.implicits._
    import graft.ops.AsOf
    val left = Seq(("u1", 25L, "p1"), ("u1", 15L, "p2")).toDF("k", "ts", "tag")
    val right = Seq(
      ("u1", 10L, Some(5L), Some("a")),
      ("u1", 20L, None: Option[Long], Some("b")) // v NULL at the match point
    ).toDF("k", "ts", "v", "w")
    val got = AsOf.join(left, right, "k", "ts", Seq("v", "w"))
      .select($"tag", $"asof_v", $"asof_w").collect()
      .map(r => r.getString(0) ->
        ((if (r.isNullAt(1)) -1L else r.getLong(1)), r.getString(2)))
      .toMap
    // p1 matches ts=20: v is genuinely NULL there (NOT 5 from ts=10) and w
    // must come from the SAME row ("b"), like a native ASOF join
    assert(got == Map("p1" -> (-1L, "b"), "p2" -> (5L, "a")))

    val fwd = AsOf.joinForward(left, right, "k", "ts", Seq("v", "w"))
      .where($"tag" === "p2").select($"asof_v", $"asof_w").collect().head
    // p2@15 forward-matches ts=20: NULL v carried, w="b"
    assert(fwd.isNullAt(0) && fwd.getString(1) == "b")
  }

  test("range join equals the brute-force BETWEEN join, boundaries inclusive") {
    import spark.implicits._
    import graft.ops.RangeJoin
    val points = Seq(
      ("u1", 0L, "p-start"), ("u1", 999L, "p-end"), ("u1", 1000L, "p-after"),
      ("u1", 5500L, "p-span"), ("u2", 500L, "p-wrong-key"))
      .toDF("k", "ts", "tag")
    val intervals = Seq(
      ("u1", 0L, 999L),      // exact cell
      ("u1", 4900L, 7100L),  // spans 3 cells of 1000ms
      ("u3", 0L, 10000L))    // key with no points
      .toDF("k", "s", "e")
    val got = RangeJoin.join(points, intervals, "k", "ts", "s", "e", bucketMs = 1000L)
      .select($"tag", $"s").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val brute = points.join(intervals, Seq("k"))
      .where($"ts" >= $"s" && $"ts" <= $"e")
      .select($"tag", $"s").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == brute &&
      got == Set(("p-start", 0L), ("p-end", 0L), ("p-span", 4900L)))
  }

  test("duplicateClusters reliable-checkpoint mode produces identical clusters") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val got = Dedup.duplicateClusters(pairs, reliable = true,
      driverEdgeLimit = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("dropDuplicateClusters keeps exactly one representative per chain") {
    import spark.implicits._
    val d = Seq(1L, 2L, 3L, 4L, 10L, 11L, 99L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val kept = Dedup.dropDuplicateClusters(d, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    // chain 1-2-3-4 -> keep 1 (greedy would keep 1 AND 3); pair -> keep 10;
    // untouched singleton 99 stays
    assert(kept == Set(1L, 10L, 99L))
  }

  test("duplicateClusters agrees with per-pair reachability on real near-dups") {
    val pairs = Dedup.nearDuplicates(docs, "doc_id", "text", threshold = 0.5)
    val clusters = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every paired doc is labelled, labels are component members, and both
    // ends of every pair land in the same cluster
    pairs.select("a", "b").collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(clusters(a) == clusters(b))
      assert(clusters(a) <= math.min(a, b))
    }
  }

  test("rolling fingerprint is order-sensitive, bag fingerprint is not") {
    import spark.implicits._
    val d = Seq((1L, "a b c"), (2L, "c b a")).toDF("doc_id", "text")
    val r = d.select(TextAnalysis.rollingFingerprint(col("text"))).collect()
    assert(r(0).getLong(0) != r(1).getLong(0))
    val f = d.select(TextAnalysis.fingerprint(col("text"))).collect()
    assert(f(0).getString(0) == f(1).getString(0))
  }

  test("text quality metrics are self-consistent") {
    val q = TextAnalysis.quality(docs, "doc_id", "text").collect()
    q.foreach { r =>
      assert(r.getAs[Int]("n_distinct") <= r.getAs[Int]("n_tokens"))
      assert(r.getAs[Double]("stopword_ratio") >= 0 &&
        r.getAs[Double]("stopword_ratio") <= 1)
      assert(r.getAs[Int]("est_bpe_tokens") >= r.getAs[Int]("n_chars") / 4)
    }
  }

  test("repetition metrics separate degenerate from diverse text") {
    import spark.implicits._
    val d = Seq(
      (1L, "spam spam spam spam spam spam"),
      (2L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val m = TextAnalysis.repetition(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    // all-same doc: every word is the top word, the single distinct 2-gram
    // repeats -> dup ratio 1 - 1/5 = 0.8
    assert(m(1L) == ((1.0, 0.8)), s"got ${m(1L)}")
    // all-distinct doc: top ratio 1/6, no duplicate 2-grams
    assert(m(2L) == ((0.1667, 0.0)), s"got ${m(2L)}")
  }

  test("fingerprint is word-order-invariant") {
    import spark.implicits._
    val d = Seq((1L, "b a c"), (2L, "c b a"), (3L, "a b d")).toDF("doc_id", "text")
    val fps = d.select(TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(_.getString(0))
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("salted join returns exactly the plain-join result on skewed keys") {
    import spark.implicits._
    // hot key: 5000 of 5050 fact rows share key 1
    val fact = ((1 to 5000).map(_ => (1L, "hot")) ++
      (1 to 50).map(i => (i.toLong + 1, s"cold$i"))).toDF("k", "payload")
    val dim = (1L to 60L).map(i => (i, s"dim$i")).toDF("k", "attr")
    val plain = fact.join(dim, Seq("k")).groupBy("k").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = graft.ops.Skew.saltedJoin(fact, dim, Seq("k"), salt = 8)
      .groupBy("k").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted == plain)
    val hist = graft.ops.Skew.keyHistogram(fact, col("k"), 3).collect()
    assert(hist.head.getAs[Long]("n") == 5000)
  }

  test("dot_product registers as a SQL function via GraftFunctions/extensions") {
    graft.plans.GraftFunctions.register(spark)
    emb.limit(10).createOrReplaceTempView("emb_t")
    val rows = spark.sql(
      """SELECT a.vec_id, dot_product(a.embedding, a.embedding) AS d
        |FROM emb_t a ORDER BY a.vec_id""".stripMargin).collect()
    assert(rows.length == 10)
    rows.foreach(r => assert(r.getDouble(1) > 0))
    // matches the Column-API expression exactly
    val viaApi = emb.limit(10)
      .select(col("vec_id"), Similarity.dot(col("embedding"), col("embedding")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach(r => assert(viaApi(r.getLong(0)) == r.getDouble(1)))
  }

  test("multimodal feature extraction round-trips deterministic features") {
    val media = Multimodal.asMedia(docs.limit(20), "doc_id", "text", "text/plain")
    val f = Multimodal.extractFeatures(spark, media).collect()
    assert(f.length == 20)
    f.foreach { r =>
      assert(r.getAs[Long]("n_bytes") > 0)
      assert(r.getAs[String]("digest").length == 32)
      assert(r.getAs[Double]("brightness") > 0)
    }
    // digest matches Spark's own md5 of the same bytes
    val expect = docs.limit(20).select(col("doc_id"), md5(col("text").cast("binary")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    f.foreach(r => assert(expect(r.getAs[Long]("id")) == r.getAs[String]("digest")))
  }

  test("sequence packing: contiguous per-shard token stream, valid straddles") {
    val packed = Packing.packSequences(docs, "doc_id", "text",
      seqLen = 256, shards = 4).collect()
    assert(packed.length == docs.count())
    packed.groupBy(_.getAs[Int]("shard")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("tok_start"))
      // the token stream is gapless: each doc starts where the previous ended
      sorted.foldLeft(0L) { (expected, r) =>
        assert(r.getAs[Long]("tok_start") == expected)
        expected + r.getAs[Long]("n_tokens")
      }
      // docs are laid out in id order within the shard
      assert(sorted.map(_.getAs[Long]("doc_id")).toSeq ==
        sorted.map(_.getAs[Long]("doc_id")).sorted.toSeq)
      sorted.foreach { r =>
        assert(r.getAs[Long]("seq_idx") == r.getAs[Long]("tok_start") / 256)
        assert(r.getAs[Long]("pos_in_seq") == r.getAs[Long]("tok_start") % 256)
        assert(r.getAs[Boolean]("straddles") ==
          (r.getAs[Long]("pos_in_seq") + r.getAs[Long]("n_tokens") > 256))
      }
    }
    // determinism: a second run is byte-identical
    val again = Packing.packSequences(docs, "doc_id", "text",
      seqLen = 256, shards = 4).collect()
    assert(packed.map(_.toString).sorted.toSeq ==
      again.map(_.toString).sorted.toSeq)
  }

  test("packed rows materialize the exact chunked token stream") {
    import spark.implicits._
    // hand-checkable corpus, one shard: stream = a..e | f..h | i..o
    // chunked at 4 → "a b c d", "e f g h", "i j k l", "m n o"
    val tiny = Seq((0L, "a b c d e"), (2L, "f g h"), (4L, "i j k l m n o"))
      .toDF("doc_id", "text")
    val rows = Packing.packedRows(tiny, "doc_id", "text", seqLen = 4, shards = 2)
      .orderBy(col("shard"), col("seq_idx")).collect()
    val streams = Seq(("a b c d", 1L), ("e f g h", 2L), ("i j k l", 1L), ("m n o", 1L))
    assert(rows.length == 4)
    rows.zip(streams).zipWithIndex.foreach { case ((r, (s, nd)), i) =>
      assert(r.getAs[Int]("shard") == 0)
      assert(r.getAs[Long]("seq_idx") == i.toLong)
      assert(r.getAs[Long]("n_tokens") == s.split(" ").length.toLong)
      assert(r.getAs[Long]("n_docs") == nd)
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(r.getAs[String]("seq_md5") == md)
    }
    // corpus invariants: every sequence but each shard's last is full,
    // seq indexes are dense from 0, token mass equals the corpus total
    val packed = Packing.packedRows(docs, "doc_id", "text",
      seqLen = 512, shards = 8).collect()
    packed.groupBy(_.getAs[Int]("shard")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("seq_idx"))
      sorted.init.foreach(r => assert(r.getAs[Long]("n_tokens") == 512L))
      assert(sorted.last.getAs[Long]("n_tokens") <= 512L)
      assert(sorted.map(_.getAs[Long]("seq_idx")).toSeq ==
        (0L until sorted.length).toSeq)
    }
    val totalTokens = docs
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum(col("n"))).collect()(0).getLong(0)
    assert(packed.map(_.getAs[Long]("n_tokens")).sum == totalTokens)
  }

  test("epoch shuffle: dense positions, near-uniform shards, fresh permutation per epoch") {
    val a1 = Shuffling.assign(docs, "doc_id", epoch = 1, shards = 8).collect()
    val n = docs.count()
    assert(a1.length == n)
    // each shard's positions are dense 0..count-1 (a readable file layout)
    a1.groupBy(_.getAs[Int]("shard")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("pos")).sorted.toSeq ==
        (0L until rows.length).toSeq)
      // near-uniform: 16-bit hash mod 8 at 500 docs stays within wide bounds
      assert(rows.length > n / 8 / 3 && rows.length < n / 8 * 3)
    }
    // pure function of (epoch, id): a re-run is identical
    val again = Shuffling.assign(docs, "doc_id", epoch = 1, shards = 8).collect()
    assert(a1.map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("shard"),
      r.getAs[Long]("pos"))).sortBy(_._1).toSeq ==
      again.map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("shard"),
        r.getAs[Long]("pos"))).sortBy(_._1).toSeq)
    // epochs are independent permutations: most docs move shard or pos
    val a2 = Shuffling.assign(docs, "doc_id", epoch = 2, shards = 8).collect()
    val p1 = a1.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Int]("shard"), r.getAs[Long]("pos"))).toMap
    val moved = a2.count(r => p1(r.getAs[Long]("doc_id")) !=
      (r.getAs[Int]("shard"), r.getAs[Long]("pos")))
    assert(moved > n * 8 / 10, s"epoch 2 must reshuffle; only $moved of $n moved")
  }

  test("video keyframes: multi-frame GIF decode is pixel-exact; corrupt skips") {
    import spark.implicits._
    val media = Seq(
      (1L, Multimodal.gifFixture(1L, 8, 8, frames = 6), "image/gif"),
      (2L, Multimodal.gifFixture(2L, 8, 8, frames = 2), "image/gif"), // fewer frames than n
      (3L, "not a gif".getBytes, "image/gif"))
      .toDF("id", "media", "content_type")
    val rows = Multimodal.videoKeyFrames(spark, media, n = 3)
      .orderBy(col("id"), col("frame_idx")).collect()
    // id 1: 6 frames, stride 2 -> video frames 0, 2, 4; id 2: 2 frames,
    // stride 1 -> frames 0, 1 (only as many samples as frames exist);
    // id 3: skipped entirely
    assert(rows.map(r => (r.getAs[Long]("id"), r.getAs[Int]("frame_idx"))).toSeq ==
      Seq((1L, 0), (1L, 2), (1L, 4), (2L, 0), (2L, 1)))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_bytes") == 64L)
      val (id, f) = (r.getAs[Long]("id"), r.getAs[Int]("frame_idx"))
      // digest matches the generative formula — the decode is pixel-exact
      val expected = Array.tabulate(64)(i =>
        (((id * 31 + f * 13 + i * 7) % 127) + 1).toByte)
      val md = java.security.MessageDigest.getInstance("MD5")
      assert(r.getAs[String]("frame_digest") ==
        md.digest(expected).map("%02x".format(_)).mkString, s"id=$id f=$f")
    }
  }

  test("WAV codec: encode→parse round trip, corrupt bytes skip, features exact") {
    val payload = "hello wav world".getBytes("US-ASCII")
    val wav = Multimodal.wavFromBytes(payload, sampleRate = 8000)
    // real RIFF container
    assert(new String(wav.slice(0, 4), "US-ASCII") == "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    val Some((rate, samples)) = Multimodal.parseWav(wav)
    assert(rate == 8000 && samples.length == payload.length)
    // parsed samples match the synthesis formula exactly
    payload.indices.foreach { i =>
      val expect = (((payload(i) & 0xff) * 37 + i * 11) % 256 - 128) * 256
      assert(samples(i).toInt == expect, s"sample $i")
    }
    // lenient on garbage: truncated, non-RIFF, stereo-flagged all skip
    assert(Multimodal.parseWav("not audio".getBytes).isEmpty)
    assert(Multimodal.parseWav(wav.take(20)).isEmpty)
    assert(Multimodal.parseWav(Array.emptyByteArray).isEmpty)
    assert(Multimodal.parseWav(null).isEmpty)
    val stereo = wav.clone(); stereo(22) = 2 // channels field
    assert(Multimodal.parseWav(stereo).isEmpty)
    // end-to-end over a DataFrame: one row per VALID medium only
    import spark.implicits._
    val mixed = Seq(
      (1L, Multimodal.wavFromBytes("abc".getBytes), "audio/wav"),
      (2L, "junk".getBytes, "audio/wav"))
      .toDF("id", "media", "content_type")
    val feats = Multimodal.audioFeatures(spark, mixed).collect()
    assert(feats.map(_.getAs[Long]("id")).toSeq == Seq(1L))
    assert(feats.head.getAs[Long]("n_samples") == 3L)
  }

  test("ImageIoDecoder decodes the PNG fixture to exact pixel bytes") {
    val png = Multimodal.pngFixture(seed = 7L, w = 16, h = 16)
    // a real PNG came out of ImageIO (magic bytes)
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
    val pixels = Multimodal.ImageIoDecoder.decode(png)
    assert(pixels.length == 256)
    (0 until 256).foreach { i =>
      assert((pixels(i) & 0xff) == ((7L * 31 + i * 7) % 127 + 1).toInt)
    }
    // non-image bytes decode to empty (lenient convention), never throw
    assert(Multimodal.ImageIoDecoder.decode("not a png".getBytes).isEmpty)
    assert(Multimodal.ImageIoDecoder.decode(Array.emptyByteArray).isEmpty)
    assert(Multimodal.ImageIoDecoder.decode(null).isEmpty)
  }

  test("real-decode kernels: features, resize, and frames over actual pixels") {
    import spark.implicits._
    val media = Seq(1L, 2L, 3L)
      .toDF("id").as[Long]
      .map(id => (id, Multimodal.pngFixture(id, 16, 16), "image/png"))
      .toDF("id", "media", "content_type")
    val f = Multimodal.extractFeatures(spark, media, Multimodal.ImageIoDecoder)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    (1L to 3L).foreach { id =>
      val expected = (0 until 256).map(i => ((id * 31 + i * 7) % 127 + 1).toDouble)
      assert(f(id).getAs[Long]("n_bytes") == 256)
      assert(math.abs(f(id).getAs[Double]("brightness") - expected.sum / 256) < 1e-9)
    }
    // resize strides over PIXELS (decoded), not the PNG container bytes
    val resized = Multimodal.resize(spark, media, target = 8,
      Multimodal.ImageIoDecoder).collect()
    resized.foreach { r =>
      assert(r.getAs[Int]("src_bytes") == 256 && r.getAs[Int]("out_bytes") == 8)
      val id = r.getAs[Long]("id")
      val out = r.getAs[Array[Byte]]("media")
      (0 until 8).foreach(i => // stride = 256/8 = 32
        assert((out(i) & 0xff) == ((id * 31 + (i * 32) * 7) % 127 + 1).toInt))
    }
    // frame sampling slices the pixel buffer into n contiguous frames
    val frames = Multimodal.frameSample(spark, media, n = 4,
      Multimodal.ImageIoDecoder).collect()
    assert(frames.length == 12)
    assert(frames.forall(_.getAs[Array[Byte]]("frame").length == 64))
    // a corrupt blob among real images is dropped, not fatal
    val mixed = Seq((9L, "garbage".getBytes, "image/png"))
      .toDF("id", "media", "content_type").union(media)
    assert(Multimodal.frameSample(spark, mixed, n = 4,
      Multimodal.ImageIoDecoder).count() == 12)
  }

  test("null id/text rows are dropped, not fatal, on the flat shingle path (ADVICE r3)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val d = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, "a b c d e f a b c d"),
      Row(2L, "a b c d e f a b c x"),
      Row(null, "null id row must be ignored"),
      Row(3L, null)), schema)
    // all three consumers of shinglesAuto over an integral id survive nulls
    val nd = Dedup.nearDuplicates(d, "doc_id", "text", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(nd.toSet == Set((1L, 2L)))
    val nj = Dedup.ngramJaccardPairs(d, "doc_id", "text", threshold = 0.3)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(nj.toSet == Set((1L, 2L)))
    val rep = TextAnalysis.repetition(d, "doc_id", "text").collect()
    assert(rep.map(_.getAs[Long]("doc")).toSet == Set(1L, 2L))
    // and the Catalyst (non-integral id) path agrees on the same corpus
    val dStr = d.select(col("doc_id").cast("string").as("doc_id"), col("text"))
    val ndStr = Dedup.nearDuplicates(dStr, "doc_id", "text", threshold = 0.3)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(ndStr.toSet == Set(("1", "2")))
  }

  test("duplicateClusters drops null-endpoint pairs instead of NPEing (ADVICE r3)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("a", LongType), StructField("b", LongType)))
    val pairs = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, 2L), Row(2L, 3L), Row(null, 9L), Row(7L, null)), schema)
    val cc = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // ADVICE r4: the distributed label-propagation path must agree — it
    // previously emitted null-pair survivors as singleton/self-labeled rows
    val ccLoop = Dedup.duplicateClusters(pairs, driverEdgeLimit = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ccLoop == cc)
  }

  test("span dedup keeps first occurrences only and rebuilds cleaned text") {
    import spark.implicits._
    val d = Seq(
      (0L, "a b c d"),   // both spans first occurrences
      (1L, "a b x y"),   // "a b" repeats doc 0
      (2L, "c d c d"),   // both spans repeat doc 0 / earlier
      (3L, "p q p q"),   // within-doc repeat: second "p q" dropped
      (4L, "a b z")      // trailing partial span "z" survives
    ).toDF("doc_id", "text")
    val out = SpanDedup.dedupSpans(d, "doc_id", "text", chunkWords = 2)
      .orderBy("doc").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(4))))
      .toMap
    assert(out(0L) == ((2, 0, "a b c d")))
    assert(out(1L) == ((2, 1, "x y")))
    assert(out(2L) == ((2, 2, "")))
    assert(out(3L) == ((2, 1, "p q")))
    assert(out(4L) == ((2, 1, "z")))
  }

  test("LM perplexity: corpus-typical text scores low, rare bigrams high") {
    import spark.implicits._
    val d = Seq(
      (0L, "aaaaaaaaaa"), // 9x "aa"
      (1L, "aaaaaaaaaa"), // identical -> identical score
      (2L, "az"),         // the one rare bigram
      (3L, "x")           // too short for a bigram: no output row
    ).toDF("doc_id", "text")
    val out = LanguageModel.bigramNll(d, "doc_id", "text")
      .orderBy("doc").collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(0L, 1L, 2L))
    // LM: "aa" x18, "az" x1, T=19; nll(doc0) = -round(ln(18/19),6) = 0.0541
    assert(out(0L) == ((9, 0.0541, 1.06)))
    assert(out(1L) == out(0L))
    // doc2: -round(ln(1/19),6) = 2.9444; ppl = exp(2.9444) ~ 18.998
    assert(out(2L)._1 == 1)
    assert(out(2L)._2 > out(0L)._2)
    assert(math.abs(out(2L)._2 - 2.9444) < 1e-9)
  }

  test("bm25: term frequency, coverage, and rarity rank as expected") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha alpha alpha beta filler filler"), // both terms, high tf
      (2L, "alpha filler filler filler filler filler"), // one term, low tf
      (3L, "beta filler filler filler filler filler"),
      (4L, "filler filler filler filler filler filler") // no query term
    ).toDF("doc_id", "text")
    val q = Seq((0, "alpha beta")).toDF("qid", "qtext")
    val out = TextSearch.bm25TopK(d, "doc_id", "text", q, k = 10)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toMap
    // doc 4 matches nothing -> absent; doc 1 covers both terms -> top
    assert(out.values.toSet == Set(1L, 2L, 3L))
    assert(out(1) == 1L)
    // identical df for alpha/beta here, so doc 2 vs doc 3 tie on score
    // and break on doc id — deterministic
    assert(out(2) == 2L && out(3) == 3L)
  }

  test("bm25: scores are reproducible run-to-run (ordered fold, not sum)") {
    import spark.implicits._
    val q = Seq((0, "hash join merge"), (1, "vector scan filter"))
      .toDF("qid", "qtext")
    def run() = TextSearch.bm25TopK(docs, "doc_id", "text", q, k = 20)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(run() == run())
  }

  test("tfidf: a term unique to one document tops that document") {
    import spark.implicits._
    val d = Seq(
      (1L, "zebra common common common"),
      (2L, "common common common common"),
      (3L, "common common common common")
    ).toDF("doc_id", "text")
    val out = TextSearch.tfidfTopTerms(d, "doc_id", "text", m = 1)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) == "zebra") // idf(common)=ln(1)=0, zebra carries doc 1
  }

  test("chunking covers every token, overlaps by exactly the configured mass") {
    import spark.implicits._
    // 100 tokens, chunk 64, overlap 16, stride 48 -> starts 0 and 48; the
    // would-be start 96 is redundant (48..99 already reaches the end)
    val d = Seq((1L, (0 until 100).map(i => s"w$i").mkString(" ")),
      (2L, "a b c"), // shorter than one chunk -> exactly 1 chunk
      (3L, (0 until 64).map(i => s"x$i").mkString(" "))) // exact fit -> 1
      .toDF("doc_id", "text")
    val ch = graft.ops.Chunking.chunk(d, "doc_id", "text", 64, 16)
    val rows = ch.collect().map(r => (r.getLong(0), r.getInt(1),
      r.getLong(2), r.getLong(3), r.getString(5))).sortBy(x => (x._1, x._2))
    assert(rows.map(x => (x._1, x._2, x._3, x._4)).toSeq == Seq(
      (1L, 0, 0L, 64L), (1L, 1, 48L, 100L), (2L, 0, 0L, 3L), (3L, 0, 0L, 64L)))
    // overlap region identical text in both chunks of doc 1
    val c0 = rows(0)._5.split(" "); val c1 = rows(1)._5.split(" ")
    assert(c0.takeRight(16).toSeq == c1.take(16).toSeq)
    // audit stats: coverage = n, overlap mass = (chunks-1) * overlap
    val st = graft.ops.Chunking.chunkStats(ch).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(4)))
      .toMap
    assert(st(1L) == ((2L, 100L, 16L)))
    assert(st(2L) == ((1L, 3L, 0L)))
    assert(st(3L) == ((1L, 64L, 0L)))
    // shuffle-free: no Exchange anywhere in the chunk plan
    assert(!ch.queryExecution.executedPlan.toString.contains("Exchange"),
      "chunking must stay a pure projection")
  }

  test("featureFrame is one scan, one split, zero exchanges") {
    val ff = graft.ops.TextAnalysis.featureFrame(docs, "doc_id", "text")
    ff.collect()
    val plan = ff.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"no shuffle expected:\n$plan")
    assert("Scan parquet|FileScan".r.findAllIn(plan).size <= 1,
      s"one scan expected:\n$plan")
    // the text is split exactly once: one split(...) in the whole plan
    assert("split\\(".r.findAllIn(plan.toLowerCase).size <= 1,
      s"single split expected:\n$plan")
  }

  test("chunking laws hold across sampled (n, chunk, overlap) configurations") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 300)
      chunk <- Gen.choose(1, 90)
      overlap <- Gen.choose(0, chunk - 1)
    } yield (n, chunk, overlap)
    val cases = (0 until 40)
      .flatMap(i => gen.apply(Gen.Parameters.default, Seed(7L + i)))
    cases.foreach { case (n, chunk, overlap) =>
      val d = Seq((1L, (0 until n).map(i => s"t$i").mkString(" ")))
        .toDF("doc_id", "text")
      val rows = graft.ops.Chunking.chunk(d, "doc_id", "text", chunk, overlap)
        .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      val stride = chunk - overlap
      val label = s"n=$n chunk=$chunk overlap=$overlap"
      // expected count law
      val expected = math.max(1, math.ceil((n - overlap).toDouble / stride).toInt)
      assert(rows.length == expected, s"count: $label")
      // starts are exactly 0, stride, 2*stride, ...
      rows.zipWithIndex.foreach { case ((idx, start, end), i) =>
        assert(idx == i && start == i.toLong * stride, s"start: $label")
        assert(end == math.min(start + chunk, n), s"end: $label")
        assert(end > start, s"nonempty: $label")
      }
      // full coverage: the last window reaches the document end
      assert(rows.last._3 == n, s"coverage: $label")
      // no redundant tail: every window before the last starts new tokens
      // beyond the previous window's end minus overlap (by construction of
      // stride), and the last window is the FIRST to reach the end
      if (rows.length > 1)
        assert(rows(rows.length - 2)._3 < n, s"redundant tail: $label")
    }
  }

  test("diff classifies null transitions as updates, not matches") {
    import spark.implicits._
    val v1 = Seq((1L, Option("x")), (2L, Option.empty[String]),
      (3L, Option("same")), (4L, Option("gone"))).toDF("id", "v")
    val v2 = Seq((1L, Option.empty[String]), (2L, Option("y")),
      (3L, Option("same")), (5L, Option("new"))).toDF("id", "v")
    val got = graft.ops.Diff.diff(v1, v2, Seq("id"), Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "update", 2L -> "update", 4L -> "delete",
      5L -> "insert"))
  }

  test("SQ8 quantization: reconstruction within scale/2, cosine within 0.02") {
    val q = Similarity.sq8Quantize(emb)
      .select(col("vec_id"), col("embedding"), col("sq8_scale"), col("qvec"))
      .limit(50).collect()
    assert(q.nonEmpty)
    q.foreach { r =>
      val v = r.getSeq[Float](1)
      val s = r.getDouble(2)
      val qs = r.getSeq[Int](3)
      assert(v.length == qs.length)
      v.zip(qs).foreach { case (x, qi) =>
        assert(qi.abs <= 127, s"code out of int8 range: $qi")
        assert(math.abs(x.toDouble - qi * s) <= s / 2 + 1e-12,
          s"reconstruction error beyond half a step: x=$x q=$qi s=$s")
      }
    }
    // quantized cosine tracks the exact cosine closely on 64-dim vectors
    val approx = Similarity.sq8TopK(emb, emb.where(col("vec_id") < 3), k = 5)
      .select(col("q"), col("v"), col("cos_q")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 3), k = 500)
      .select(col("q"), col("v"), col("cos_sim")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(approx.nonEmpty)
    approx.foreach { case (pair, cq) =>
      exact.get(pair).foreach(ce =>
        assert(math.abs(cq - ce) <= 0.02, s"SQ8 cosine drift >0.02 at $pair: $cq vs $ce"))
    }
  }

  test("quantized k-means: deterministic, non-degenerate, empty-cluster-safe") {
    import graft.ops.KMeansQ
    val emb = Tables.load(spark, sf, "embeddings")
    val (a1, c1) = KMeansQ.fitPredict(emb, "vec_id", "embedding",
      k = 4, iters = 2, dims = 64)
    val (a2, c2) = KMeansQ.fitPredict(emb, "vec_id", "embedding",
      k = 4, iters = 2, dims = 64)
    // rerun-identical: integer arithmetic end to end, no partition-order
    // dependence anywhere
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
    val m1 = a1.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val m2 = a2.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(m1 == m2)
    // non-degenerate on the fixture: more than one populated cluster
    assert(m1.values.toSet.size > 1, s"collapsed to ${m1.values.toSet}")
    // initial centers are a pure function of (k, dims, scale)
    assert(KMeansQ.initialCenters(4, 64, 1000000L).map(_.toSeq).toSeq ==
      KMeansQ.initialCenters(4, 64, 1000000L).map(_.toSeq).toSeq)
    // an unreachable center (far outside the data) survives iterations
    // unchanged via the empty-cluster carryover: k=2 where center 1 is
    // pushed out by construction on a tiny 1-dim slice
    import spark.implicits._
    val tiny = Seq((1L, Seq(0.1f)), (2L, Seq(0.2f))).toDF("vec_id", "embedding")
    val (_, cs) = KMeansQ.fitPredict(tiny, "vec_id", "embedding",
      k = 2, iters = 2, dims = 1)
    val init = KMeansQ.initialCenters(2, 1, 1000000L)
    // whichever center never won kept its initial value
    assert(cs.zipWithIndex.exists { case (c, i) => c.toSeq == init(i).toSeq })
  }

  test("fused multi-subspace fit equals m sequential fits bit-for-bit") {
    import graft.ops.KMeansQ
    // fitMulti is the one-pass-per-iteration form of pqFit's m sequential
    // KMeansQ fits; the s27 oracle replays the SEQUENTIAL recurrence, so
    // the fusion must be math-identical, not just close
    val subDims = 16
    val fused = KMeansQ.fitMulti(emb, "embedding", m = 4, k = 8,
      iters = 2, dims = 64)
    val sequential = (0 until 4).map { i =>
      val sub = emb.select(col("vec_id"),
        slice(col("embedding"), i * subDims + 1, subDims).as("_sub"))
      KMeansQ.fitPredict(sub, "vec_id", "_sub", k = 8, iters = 2,
        dims = subDims)._2
    }
    assert(fused.map(_.map(_.toSeq).toSeq) ==
      sequential.map(_.map(_.toSeq).toSeq))
    // m = 1 degenerates to a plain fit (the s28 coarse-quantizer path)
    val one = KMeansQ.fitMulti(emb, "embedding", m = 1, k = 4,
      iters = 2, dims = 64).head
    val plain = KMeansQ.fitPredict(emb, "vec_id", "embedding",
      k = 4, iters = 2, dims = 64)._2
    assert(one.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq)
    // and assign() under the fitted centers equals fitPredict's labels
    val viaAssign = KMeansQ.assign(emb, "vec_id", "embedding", plain, 64)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaFit = KMeansQ.fitPredict(emb, "vec_id", "embedding",
      k = 4, iters = 2, dims = 64)._1
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaAssign == viaFit)
  }

  test("quantizer pipeline stays inside whole-stage codegen (no 64 KB fallback)") {
    // round-10 finding: the unrolled score/argmin expression trees blew
    // janino's 64 KB per-method cap inside hashAgg_doAggregateWithKeys and
    // silently dropped the hottest loop to interpreted eval. The native
    // loop kernels (QuantScores/ArgMinLong) keep generated-code size
    // independent of k·dims; with codegen fallback DISABLED a compile
    // failure now throws instead of degrading, so a regression fails here.
    val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val queries = emb.where(col("vec_id") < 3)
      assert(Similarity.pqTopK(emb, queries, k = 3,
        fitSampleRate = 0.5).count() > 0)
      assert(Similarity.ivfqTopK(emb, queries, k = 3,
        fitSampleRate = 0.5).count() > 0)
      assert(graft.ops.KMeansQ.fitPredict(
        emb, "vec_id", "embedding", k = 4, iters = 1, dims = 64)._1
        .count() > 0)
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("quant kernels null out malformed vectors instead of misreading") {
    import spark.implicits._
    import org.apache.spark.sql.graft.QuantOps
    // the kernel reads exactly `dims` elements: a short vector or a null
    // element must yield SQL NULL (old getItem null-propagation), never an
    // out-of-bounds read or a fabricated argmin index — in BOTH the
    // interpreted and the codegen path
    val centers = Array(Array(1L, 2L), Array(3L, 4L))
    val df = Seq(
      (1L, Seq[java.lang.Long](5L, 6L)),         // well-formed
      (2L, Seq[java.lang.Long](7L)),             // too short
      (3L, Seq[java.lang.Long](8L, null)),       // null element
      (4L, Seq.empty[java.lang.Long])            // empty
    ).toDF("id", "v")
    def run(codegen: Boolean): Map[Long, (Option[Seq[Long]], Option[Int])] = {
      val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
      try df.select(col("id"),
          QuantOps.scores(col("v"), centers).as("sc"),
          QuantOps.argmin(QuantOps.scores(col("v"), centers)).as("am"))
        .collect().map(r => r.getLong(0) -> (
          (if (r.isNullAt(1)) None else Some(r.getSeq[Long](1).toSeq)),
          (if (r.isNullAt(2)) None else Some(r.getInt(2))))).toMap
      finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
    }
    for (codegen <- Seq(true, false)) {
      val got = run(codegen)
      // |c|²-2qc: c0: 5-2*(5+12)=-29, c1: 25-2*(15+24)=-53 → argmin 1
      assert(got(1L) == (Some(Seq(-29L, -53L)), Some(1)), s"codegen=$codegen")
      assert(got(2L) == (None, None), s"codegen=$codegen")
      assert(got(3L) == (None, None), s"codegen=$codegen")
      assert(got(4L) == (None, None), s"codegen=$codegen")
    }
  }

  test("sample-fit IVF keeps high recall vs brute force on the fixture") {
    // the 100 TB shape: codebooks fit on a deterministic md5 sample
    // (rate-bounded input), every vector still cell-assigned + searched.
    // Recall can differ from the full fit — the oracle replays the
    // sampled fit exactly, and this law bounds the quality cost.
    val queries = emb.where(col("vec_id") < 5)
    val bf = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("q", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sampled = Similarity.ivfqTopK(emb, queries, k = 5,
        fitSampleRate = 0.5)
      .select("q", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = sampled.intersect(bf).size.toDouble / bf.size
    assert(recall >= 0.5, s"sampled-fit IVF recall too low: $recall")
  }

  test("integer pagerank matches a driver-side reference on a known graph") {
    import spark.implicits._
    // star-plus-cycle: 1->2 1->3 2->3 3->1 4->1 (4 is a source-only node)
    val edges = Seq((1, 2), (1, 3), (2, 3), (3, 1), (4, 1))
    val got = Graph.pagerank(edges.toDF("src", "dst"), "src", "dst",
      iters = 3, scale = 1000000L)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

    // independent reimplementation of the same integer recurrence
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.size.toLong
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val baseline = ((100L - 85L) * 1000000L / 100L) / n
    var pr = nodes.map(_ -> 1000000L / n).toMap
    (1 to 3).foreach { _ =>
      val inflow = edges.groupBy(_._2).view.mapValues(
        _.map(e => pr(e._1) / outdeg(e._1)).sum).toMap
      pr = nodes.map(v =>
        v -> (baseline + 85L * inflow.getOrElse(v, 0L) / 100L)).toMap
    }
    assert(got == pr)
    // sink-heavy node 3 outranks everything; source-only node 4 has only
    // the teleport baseline
    assert(got(3) > got(1) && got(3) > got(2))
    assert(got(4) == baseline)
    // rerun-identical (integer arithmetic, no partition-order dependence)
    val again = Graph.pagerank(edges.toDF("src", "dst"), "src", "dst",
      iters = 3, scale = 1000000L)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(again == got)
  }

  test("importance weighting: target domain scores itself highest") {
    val tgt = col("source").isin("src1", "src2", "src3")
    val scores = Importance.importanceScores(docs, "doc_id", "text", tgt)
      .join(docs.select(col("doc_id").as("doc"), col("source")), "doc")
    val byDomain = scores
      .withColumn("is_tgt", col("source").isin("src1", "src2", "src3"))
      .groupBy(col("is_tgt")).agg(avg(col("importance")).as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    // a domain's own documents must look more like the domain than the
    // rest of the corpus does — the property DSIR selection relies on
    assert(byDomain(true) > byDomain(false),
      s"target mean ${byDomain(true)} vs rest ${byDomain(false)}")
    // partition-order independence (integer arithmetic end to end)
    val a = Importance.importanceScores(docs, "doc_id", "text", tgt)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val b = Importance.importanceScores(docs.repartition(17), "doc_id",
      "text", tgt).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(a == b)
  }

  test("hashed embedding: integer-exact components, token-order invariant") {
    import spark.implicits._
    val d = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"),
      (3L, "alpha alpha")).toDF("doc_id", "text")
    val rows = d.select(col("doc_id"),
        TextSearch.hashedEmbedding(col("text"), 16).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    rows.values.foreach { v =>
      assert(v.length == 16)
      v.foreach(x => assert(x == math.rint(x))) // integer-exact doubles
    }
    // a bag-of-words map: permuting tokens can't change the vector
    assert(rows(1L) == rows(2L))
    // doubled token doubles its bucket: v(3) = 2 * bucket(alpha)
    assert(rows(3L).map(math.abs).sum == 2.0)
  }

  test("wide-agg embedding path equals the array HOF path bit-for-bit") {
    import spark.implicits._
    // the dense leg's codegen'd explode+aggregate form must produce the
    // SAME integers as the hashedEmbedding array fold — they share the
    // oracle, so a divergence would be a silent correctness bug
    val d = docs.where(col("doc_id") < 50).select(col("doc_id"), col("text"))
    val wide = TextSearch.hashedEmbeddingCols(d, "doc_id", "text", 16)
      .collect().map(r => r.getLong(0) ->
        (0 until 16).map(i => r.getLong(r.fieldIndex(s"_d$i")).toDouble)).toMap
    val hof = d.select(col("doc_id"),
        TextSearch.hashedEmbedding(col("text"), 16).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(wide.keySet == hof.keySet && wide.nonEmpty)
    wide.foreach { case (id, v) => assert(v == hof(id), s"doc $id diverged") }
  }

  test("hybrid rrf: a doc topping both legs tops the fusion; legs differ") {
    import spark.implicits._
    val q = Seq((0, "hash join merge")).toDF("qid", "qtext")
    val out = TextSearch.hybridTopK(docs, "doc_id", "text", q, k = 5)
      .collect()
    assert(out.length == 5)
    val top = out.find(_.getInt(1) == 1).get
    // rrf of the winner >= every later rank's rrf, and both leg ranks are
    // carried through for audit (nullable when a leg missed the doc)
    val rrfs = out.sortBy(_.getInt(1)).map(_.getDouble(5))
    assert(rrfs.zip(rrfs.tail).forall { case (a, b) => a >= b })
    // fusing a doc ranked #1 lexically and #1 semantically would score
    // 2/61; no single-leg doc can beat that (max 1/61 + 0 < 2/61) — so if
    // such a doc exists it must be the fusion winner
    val lex1 = TextSearch.bm25TopK(docs, "doc_id", "text", q, 1)
      .collect().head.getLong(2)
    if (!top.isNullAt(3) && !top.isNullAt(4) &&
        top.getInt(3) == 1 && top.getInt(4) == 1)
      assert(top.getLong(2) == lex1)
  }

  test("loss-mask packing: masks track turn roles across sequence straddles") {
    import spark.implicits._
    // one conversation, three turns: user (3 toks), assistant (4 toks),
    // user (2 toks) — 9 tokens packed at seqLen=4 => sequences of
    // masks 000|1, 111|0, 0
    val turns = Seq(
      (1L, 0L, "u1 u2 u3", false),
      (1L, 1L, "a1 a2 a3 a4", true),
      (1L, 2L, "u4 u5", false)
    ).toDF("conv", "ord", "turn", "assistant")
    val out = Packing.packWithMasks(turns, "conv", Seq("ord"), "turn",
        col("assistant"), seqLen = 4, shards = 1)
      .orderBy(col("seq_idx")).collect()
    assert(out.map(_.getLong(out.head.fieldIndex("n_tokens"))).toSeq ==
      Seq(4L, 4L, 1L))
    assert(out.map(_.getLong(out.head.fieldIndex("n_train_tokens"))).toSeq ==
      Seq(1L, 3L, 0L))
    // digests are the md5 of exactly the expected streams
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out.map(_.getString(out.head.fieldIndex("seq_md5"))).toSeq ==
      Seq(m("u1 u2 u3 a1"), m("a2 a3 a4 u4"), m("u5")))
    assert(out.map(_.getString(out.head.fieldIndex("mask_md5"))).toSeq ==
      Seq(m("0001"), m("1110"), m("0")))
  }

  test("psi drift: zero for identical distributions, positive under shift, clamped edges") {
    import spark.implicits._
    val a = (0 until 1000).map(i => i % 100).toDF("v")
    val same = Drift.psiBins(a, a, "v", bins = 10, lo = 0, hi = 100)
      .agg(sum(col("psi_term"))).collect()(0).getDouble(0)
    assert(math.abs(same) < 1e-9, s"identical dists must give PSI~0, got $same")
    val shifted = (0 until 1000).map(i => i % 100 + 40).toDF("v")
    val out = Drift.psiBins(a, shifted, "v", bins = 10, lo = 0, hi = 100)
      .collect()
    val psi = out.map(_.getDouble(out.head.fieldIndex("psi_term"))).sum
    assert(psi > 0.25, s"a 40-point shift is a major-drift alarm, got $psi")
    // out-of-domain values clamp to the top bin, never vanish
    assert(out.map(r => r.getLong(r.fieldIndex("cur_cnt"))).sum == 1000)
    val top = out.find(_.getInt(0) == 9).get
    assert(top.getLong(top.fieldIndex("cur_cnt")) == 500) // 100..139 -> bin 9
    // a null-rate explosion lands in the missing bin (-1) and ALARMS —
    // it must never renormalize away or leak into bin 0
    val nulled = (0 until 1000)
      .map(i => if (i % 2 == 0) Some(i % 100) else None).toDF("v")
    val nd = Drift.psiBins(a, nulled, "v", bins = 10, lo = 0, hi = 100)
      .collect()
    val missing = nd.find(_.getInt(0) == -1).get
    assert(missing.getLong(missing.fieldIndex("cur_cnt")) == 500)
    assert(missing.getLong(missing.fieldIndex("base_cnt")) == 0)
    val bin0 = nd.find(_.getInt(0) == 0).get
    assert(bin0.getLong(bin0.fieldIndex("cur_cnt")) == 50) // nulls NOT in bin 0
    assert(nd.map(_.getDouble(nd.head.fieldIndex("psi_term"))).sum > 0.25,
      "a 50% null explosion must alarm")
  }

  test("triangles: known graph, direction/duplicate/self-loop insensitive") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles, each node in 3) plus a pendant 4-5
    // and noise: duplicates, reversed directions, a self-loop
    val edges = Seq((1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (3, 2), (2, 4),
      (3, 4), (4, 5), (5, 5), (1, 2)).toDF("src", "dst")
    val out = Graph.triangles(edges, "src", "dst")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out == Map(1 -> 3L, 2 -> 3L, 3 -> 3L, 4 -> 3L))
    // total incidences / 3 = triangle count
    assert(out.values.sum == 4 * 3)
  }

  test("pair dedup keepers: longest caption wins, ties to smallest id, singletons kept") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val docsDf = Seq(
      (1L, "short"), (2L, "the longest caption here"), (3L, "medium one"),
      (10L, "same len"), (11L, "半角 len!"), // equal lengths → smaller id
      (20L, "loner")).toDF("doc_id", "text")
    val got = Multimodal.captionAwareKeepers(pairs, docsDf, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(1L) == (3L, 2L, 24L))   // transitive {1,2,3}: 2 wins
    assert(got(10L) == (2L, 10L, 8L))  // equal-length tie: smallest id
    assert(got(20L) == (1L, 20L, 5L))  // unmatched: own cluster, survives
    assert(got.size == 3)
  }

  test("soft dedup: every doc decided once, singletons always survive, coin is pure") {
    val r1 = Dedup.dupWeightedKeep(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(r1.length == docs.count())
    assert(r1.map(_._1).distinct.length == r1.length)
    // c = 1 ⇒ hash48 · 1 < 2^48 always: no singleton is ever dropped
    assert(r1.filter(_._2 == 1L).forall(_._3))
    // the fixture has real near-dup clusters, and the keep decision is a
    // pure function of (id, c): a rerun reproduces the exact membership
    assert(r1.exists(_._2 > 1L))
    val r2 = Dedup.dupWeightedKeep(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(r1.sortBy(_._1).toSeq == r2.sortBy(_._1).toSeq)
  }

  test("l2sq kernel is exact and null-safe; full-shortlist refine equals brute force") {
    import spark.implicits._
    import org.apache.spark.sql.graft.QuantOps
    val df = Seq(
      (1L, Seq[java.lang.Long](1L, 2L, 3L), Seq[java.lang.Long](4L, 6L, 3L)),
      (2L, Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](1L, 2L, 3L)),
      (3L, Seq[java.lang.Long](7L, 7L), Seq[java.lang.Long](7L, 7L))
    ).toDF("id", "a", "b")
    for (codegen <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      val got = df.select(col("id"), QuantOps.l2sq(col("a"), col("b")).as("d"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      assert(got == Map(1L -> Some(25L), 2L -> None, 3L -> Some(0L)),
        s"codegen=$codegen")
    }
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    // refine law: a shortlist covering the whole corpus makes the refined
    // ranking EXACTLY the quantized-integer brute-force ranking
    val sub = emb.where(col("vec_id") < 40)
    val queries = sub.where(col("vec_id") < 2)
    val refined = Similarity.pqRefineTopK(sub, queries, k = 5, kCand = 39)
      .select("q", "rank", "v").collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val qv = org.apache.spark.sql.graft.QuantOps
    val brute = sub.select(col("vec_id").as("q"),
        qv.quantize(col("embedding"), 64, 1000000L).as("qa"))
      .where(col("q") < 2)
      .crossJoin(sub.select(col("vec_id").as("v"),
        qv.quantize(col("embedding"), 64, 1000000L).as("qb")))
      .where(col("q") =!= col("v"))
      .withColumn("d2", qv.l2sq(col("qa"), col("qb")))
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy(col("q")).orderBy(col("d2"), col("v"))))
      .where(col("rank") <= 5)
      .select("q", "rank", "v").collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(refined == brute)
  }

  test("quality-rule bank: each rule fires on its construction, pass is conjunction") {
    import spark.implicits._
    def words(w: String, n: Int) = Seq.fill(n)(w).mkString(" ")
    val good = (1 to 20).map(i => s"word$i").mkString(" ") +
      " the of " + (21 to 43).map(i => s"term$i").mkString(" ")
    val docs = Seq(
      (1L, good),                                   // passes the whole bank
      (2L, "the of " + (1 to 10).map("w" + _).mkString(" ")), // r1 short
      (3L, words("ab", 50) + " the of " + words("cd", 10)),   // r3 short words (r5 too)
      (4L, (1 to 50).map(i => s"unique$i").mkString(" ")),    // r4 no stopwords
      (5L, "the of " + words("same", 60)),                    // r5 low diversity
      (6L, good + " lorem ipsum"),                            // r6 boilerplate
      (7L, good + " {")                                       // r6 brace
    ).toDF("doc_id", "text")
    val f = QualityRules.flags(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
          r.getBoolean(5), r.getBoolean(6), r.getBoolean(7))).toMap
    assert(f(1L) == (false, false, false, false, false, false, true))
    assert(f(2L)._1 && !f(2L)._7)              // r1 fired
    assert(f(3L)._3 && !f(3L)._7)              // r3 fired
    assert(f(4L)._4 && !f(4L)._7)              // r4 fired
    assert(f(5L)._5 && !f(5L)._7)              // r5 fired
    assert(f(6L)._6 && f(7L)._6)               // r6 fired both ways
    val att = QualityRules.attrition(docs, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(att("z_survivors") == 1L)
    assert(att("r6_boilerplate") == 2L)
    assert(att("r2_too_long") == 0L)
    // rules fire independently: totals can exceed the doc count
    assert(att.values.sum >= docs.count())
  }

  test("hierarchy reachability: forest expands to exact (node, root, depth)") {
    import spark.implicits._
    // two trees: 1-{2,3}, 3-{4}; 10-{11}; node 20 is an isolated root
    val forest = Seq(
      (1L, None), (2L, Some(1L)), (3L, Some(1L)), (4L, Some(3L)),
      (10L, None), (11L, Some(10L)), (20L, None))
      .toDF("node", "parent")
    val got = Hierarchy.reachability(forest, "node", "parent")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set(
      (1L, 1L, 0), (2L, 1L, 1), (3L, 1L, 1), (4L, 1L, 2),
      (10L, 10L, 0), (11L, 10L, 1), (20L, 20L, 0)))
  }

  test("hierarchy reachability: a parent-chain cycle raises, never spins") {
    import spark.implicits._
    // in a (node, parent) model a cycle can never be REACHED from a root
    // (its members all have parents), so it drops as unreachable like an
    // orphan; the runaway case the guard must catch is a chain deeper
    // than the declared maxDepth — that raises instead of grinding
    // through levels.
    val deep = ((1L, Option.empty[Long]) +:
      (2L to 12L).map(n => (n, Some(n - 1)))).toDF("node", "parent")
    val e = intercept[IllegalArgumentException] {
      Hierarchy.reachability(deep, "node", "parent", maxDepth = 5).count()
    }
    assert(e.getMessage.contains("maxDepth"))
    // a forest whose deepest node sits EXACTLY at maxDepth is legal (the
    // guard fires only on rows past the bound)...
    val exact = Hierarchy.reachability(deep, "node", "parent", maxDepth = 11)
    assert(exact.count() == 12)
    assert(exact.agg(max(col("depth"))).head().getInt(0) == 11)
    // ...and a roomier guard resolves identically
    val ok = Hierarchy.reachability(deep, "node", "parent", maxDepth = 12)
    assert(ok.count() == 12)
  }

  test("hierarchy reachability: orphans (parent not in the node set) drop") {
    import spark.implicits._
    val forest = Seq((1L, None), (2L, Some(1L)), (9L, Some(99L)))
      .toDF("node", "parent")
    val got = Hierarchy.reachability(forest, "node", "parent")
      .select("node").as[Long].collect().toSet
    // 9's parent 99 does not exist: 9 is unreachable from any root and is
    // absent from the result — never attributed to a wrong root
    assert(got == Set(1L, 2L))
  }

  test("loss-mask packing laws: token/mask mass conserved, repartition-stable") {
    import spark.implicits._
    val ev = Tables.eventsTopic(spark, sf).select(
      col("user_id"), col("event_id"),
      concat_ws(" ", col("event_type"),
        get_json_object(col("_value"), "$.k")).as("turn"),
      col("event_type").isin("purchase", "error").as("assistant"))
      .where(col("user_id") < 30)
    def run(df: org.apache.spark.sql.DataFrame) =
      Packing.packWithMasks(df, "user_id", Seq("event_id"), "turn",
        col("assistant"), seqLen = 64, shards = 4)
        .collect().map(r => (r.getInt(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getString(5), r.getString(6))).toMap
    val a = run(ev)
    // conservation: every token lands in exactly one sequence; trainable
    // mass equals the assistant-turn token mass
    val toks = ev.select(size(split(col("turn"), " ")).cast("long").as("n"),
      col("assistant")).collect()
    assert(a.values.map(_._1).sum == toks.map(_.getLong(0)).sum)
    assert(a.values.map(_._2).sum ==
      toks.filter(_.getBoolean(1)).map(_.getLong(0)).sum)
    // layout is a pure function of the data, not the physical partitioning
    assert(run(ev.repartition(13)) == a)
  }

  test("rolling z-score survives byte-counter magnitudes without wrapping") {
    import spark.implicits._
    // |v| ~ 1.5e9: sum(v*v) alone wraps a BIGINT; the decimal-carried test
    // must still flag the spike and nothing else
    val base = 1500000000L
    val rows = (0 until 10).map(i => ("A", i.toLong, base + (i % 3))) ++
      Seq(("A", 10L, base + 500L), ("A", 11L, base + 1L))
    val out = Anomaly.rollingZ(rows.toDF("k", "o", "v"), Seq("k"), "o", "v",
        n = 10, z = 3)
      .collect().map(r => r.getLong(1) ->
        r.getBoolean(r.fieldIndex("is_anomaly"))).toMap
    assert(out(10L), "the +500 spike over a tight 1.5e9 baseline must flag")
    assert(!out(11L) && (0 until 10).forall(i => !out(i.toLong)))
  }

  test("rolling z-score flags are repartition-stable") {
    val ev = Tables.eventsTopic(spark, sf).select(
      col("_partition").as("p"), col("_offset").as("o"),
      get_json_object(col("_value"), "$.k").cast("long").as("v"))
    def flags(df: org.apache.spark.sql.DataFrame) =
      Anomaly.rollingZ(df, Seq("p"), "o", "v", n = 10, z = 2)
        .where(col("is_anomaly")).select("p", "o")
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(flags(ev) == flags(ev.repartition(17)))
  }

  test("scd2 laws hold for random legal changelogs") {
    import spark.implicits._
    // legal per-key feed: alternating insert/delete starting with insert,
    // sequenced either on distinct ordinals or with upsert-style
    // same-ordinal (delete, insert) pairs
    val rnd = new scala.util.Random(4242)
    val feed = (0 until 40).flatMap { key =>
      var ord = 0
      var open = false
      val nOps = 1 + rnd.nextInt(8)
      (0 until nOps).flatMap { _ =>
        val rows =
          if (!open) { open = true; Seq((s"k$key", "insert", ord)) }
          else if (rnd.nextBoolean()) { open = false; Seq((s"k$key", "delete", ord)) }
          else Seq((s"k$key", "delete", ord), (s"k$key", "insert", ord)) // upsert
        ord += 1 + rnd.nextInt(2)
        rows
      }
    }
    val h = Scd.scd2(feed.toDF("k", "_change_type", "_change_ordinal"), Seq("k"))
      .collect().map(r => (r.getString(0), r.getInt(1),
        Option(r.get(2)).map(_.asInstanceOf[Int]), r.getBoolean(3)))
    val byKey = h.groupBy(_._1)
    feed.map(_._1).distinct.foreach { k =>
      val versions = byKey(k).sortBy(_._2)
      // one version per insert, no losses
      assert(versions.length == feed.count(r => r._1 == k && r._2 == "insert"))
      versions.foreach { case (_, from, to, current) =>
        assert(to.forall(_ > from), s"$k version [$from,$to) must be forward")
        assert(current == to.isEmpty)
      }
      // versions never overlap: each closes at or before the next opens
      versions.zip(versions.drop(1)).foreach { case ((_, _, to, _), (_, from2, _, _)) =>
        assert(to.exists(_ <= from2), s"$k overlapping versions")
      }
      // at most one current, and only when the key's last op was an insert
      val lastIsInsert = feed.filter(_._1 == k).maxBy(r => (r._3, r._2))._2 == "insert"
      assert(versions.count(_._4) == (if (lastIsInsert) 1 else 0))
    }
  }

  test("rolling z-score: integer test equals the float z-test, cold start never flags") {
    import spark.implicits._
    // key A: stable 10-sample baseline (values 4..6), then a spike and a
    // normal value; key B interleaved to prove per-key isolation
    val base = (0 until 10).map(i => ("A", i.toLong, 4L + (i % 3)))
    val rows = base ++ Seq(("A", 10L, 50L), ("A", 11L, 5L)) ++
      (0 until 12).map(i => ("B", i.toLong, 100L))
    val out = Anomaly.rollingZ(rows.toDF("k", "o", "v"), Seq("k"), "o", "v",
        n = 10, z = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getBoolean(r.fieldIndex("is_anomaly")), r.getLong(r.fieldIndex("n_prior"))))
      .toMap
    // cold start (fewer than n priors) never flags, even B's constant run
    (0 until 10).foreach { i =>
      assert(!out(("A", i.toLong))._1 && out(("A", i.toLong))._2 == i.toLong)
    }
    assert(out(("A", 10L))._1)   // the spike flags
    assert(!out(("A", 11L))._1)  // the window absorbs it; 5 is typical
    // B is constant: variance 0, value == mean -> lhs = rhs = 0, no flag
    assert(!out(("B", 10L))._1 && !out(("B", 11L))._1)
    // the integer inequality is EXACTLY |v - mean| > z*stddev_samp:
    // replay the float test for every tested row and compare decisions
    rows.groupBy(_._1).foreach { case (k, ks) =>
      val sorted = ks.sortBy(_._2)
      sorted.indices.drop(10).foreach { i =>
        val prior = sorted.slice(i - 10, i).map(_._3.toDouble)
        val mean = prior.sum / 10
        val sd = math.sqrt(prior.map(x => (x - mean) * (x - mean)).sum / 9)
        val floatFlag = math.abs(sorted(i)._3 - mean) > 3 * sd
        assert(out((k, sorted(i)._2))._1 == floatFlag,
          s"row ($k, ${sorted(i)._2}) integer/float disagreement")
      }
    }
  }

  test("scd2: upsert closes the prior version, not its own insert") {
    import spark.implicits._
    // key A: insert@0, merge-upsert@1 (delete+insert SAME ordinal),
    // delete@3; key B: insert@0 only (still current)
    val ch = Seq(
      ("A", Some(10L), "insert", 0), ("A", None, "delete", 1),
      ("A", Some(20L), "insert", 1), ("A", None, "delete", 3),
      ("B", Some(7L), "insert", 0)
    ).toDF("k", "payload", "_change_type", "_change_ordinal")
    val h = Scd.scd2(ch, Seq("k"))
      .collect()
      .map(r => (r.getString(0), r.getAs[Any]("payload"),
        r.getInt(2), Option(r.getAs[Any]("valid_to")), r.getBoolean(4)))
      .toSet
    assert(h == Set(
      ("A", 10L, 0, Some(1), false),  // closed by the upsert's retraction
      ("A", 20L, 1, Some(3), false),  // the upsert's insert survives to 3
      ("B", 7L, 0, None, true)))      // never deleted -> current
  }

  test("scd2: at-least-once duplicates collapse, history never doubles") {
    import spark.implicits._
    val clean = Seq(
      ("A", Some(10L), "insert", 0), ("A", None, "delete", 2),
      ("B", Some(7L), "insert", 1))
    // every row delivered twice, one of them three times
    val dup = clean ++ clean ++ Seq(("A", Option.empty[Long], "delete", 2))
    def fold(rows: Seq[(String, Option[Long], String, Int)]) =
      Scd.scd2(rows.toDF("k", "payload", "_change_type", "_change_ordinal"),
        Seq("k")).collect()
        .map(r => (r.getString(0), r.getAs[Any]("payload"), r.getInt(2),
          Option(r.getAs[Any]("valid_to")), r.getBoolean(4))).toSet
    assert(fold(dup) == fold(clean))
    assert(fold(clean) == Set(
      ("A", 10L, 0, Some(2), false),
      ("B", 7L, 1, None, true)))
  }

  test("scd2: conflicting duplicates fail loudly, never fork history") {
    import spark.implicits._
    // two DIFFERING inserts claim (A, 0): either choice would silently
    // fork history — the fold must raise at execution time
    val ch = Seq(
      ("A", Some(10L), "insert", 0), ("A", Some(99L), "insert", 0),
      ("B", Some(7L), "insert", 1)
    ).toDF("k", "payload", "_change_type", "_change_ordinal")
    val e = intercept[Exception](Scd.scd2(ch, Seq("k")).collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("conflicting changelog duplicates")),
      s"expected the conflict guard, got: ${messages(e).mkString(" | ")}")
  }

  test("repetition signals: exact gram char masses, ties, short docs") {
    import spark.implicits._
    val docs = Seq(
      // "a b" x3 (top2 = 3 * 3 = 9 chars); dup 3-grams "a b a" x2 +
      // "b a b" x2 = 20 chars
      (1L, "a b a b a b"),
      // all 2-grams occur once: tie breaks to the smallest gram ("x y",
      // 3 chars); no duplicated 3-gram
      (2L, "x y z"),
      // shorter than every n: zeros, never an error
      (3L, "w")).toDF("doc_id", "text")
    val got = graft.ops.QualityRules.repetitionSignals(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(
      (1L, 6L, 11L, 9L, 20L),
      (2L, 3L, 5L, 3L, 0L),
      (3L, 1L, 1L, 0L, 0L)), s"got $got")
  }

  test("scd2: drain/arrival order never changes the folded history") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val feed = (0 until 12).flatMap { key =>
      Seq((s"k$key", Some(key.toLong), "insert", 0),
        (s"k$key", Option.empty[Long], "delete", 2),
        (s"k$key", Some(key * 10L), "insert", 2),
        (s"k$key", Option.empty[Long], "delete", 5))
    }
    def fold(rows: Seq[(String, Option[Long], String, Int)]) =
      Scd.scd2(rows.toDF("k", "payload", "_change_type", "_change_ordinal")
          .repartition(7), Seq("k")).collect()
        .map(r => (r.getString(0), r.getAs[Any]("payload"), r.getInt(2),
          Option(r.getAs[Any]("valid_to")), r.getBoolean(4))).toSet
    // a late drain = the same rows in any order; the ordinal sort inside
    // the key window makes the fold order-independent
    assert(fold(rnd.shuffle(feed)) == fold(feed))
  }
}
