package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generators and the oracles derived from them.
  *
  * Every record, query text and change the program sees is made here from
  * the `--seed` argument; expected answers are computed from the same
  * generated arrays, never read back from the program. */
object Gen {

  /** The pinned clock: every generated timestamp is at or before it, and the
    * pg-wire server and every direct planner call resolve LAST against it. */
  val NowMs: Long = 1767225600000L // 2026-01-01T00:00:00Z

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)

  // ---- the KAFSQL estate ----------------------------------------------------

  /** `partitions` × `perPartition` JSON records whose timestamps are spread
    * evenly over the `spanMs` before [[NowMs]] (offset order = time order). */
  final class Estate(val seed: Long, val partitions: Int, val perPartition: Int,
      val spanMs: Long) {
    val users: Array[Array[Int]] = Array.tabulate(partitions) { p =>
      val r = rng(seed, 100 + p); Array.fill(perPartition)(r.nextInt(10000)) }
    val regions: Array[Array[Int]] = Array.tabulate(partitions) { p =>
      val r = rng(seed, 200 + p); Array.fill(perPartition)(r.nextInt(Regions)) }
    val amounts: Array[Array[Int]] = Array.tabulate(partitions) { p =>
      val r = rng(seed, 300 + p); Array.fill(perPartition)(1 + r.nextInt(1000)) }

    def tsMs(p: Int, o: Int): Long =
      NowMs - spanMs + ((o + 1).toLong * spanMs) / perPartition - p
    def key(p: Int, o: Int): String = s"u${users(p)(o)}"
    def value(p: Int, o: Int): String = eventJson(users(p)(o), regions(p)(o), amounts(p)(o))
    def records: Long = partitions.toLong * perPartition

    /** (group key, count, sum(amount)) in the engine's output order — the
      * stringified group key — over records with ts in [lo, hi]. */
    def aggregate(lo: Long, hi: Long, partition: Option[Int],
        byRegion: Boolean): Seq[(String, Long, Long)] = {
      val acc = scala.collection.mutable.TreeMap.empty[String, (Long, Long)]
      for (p <- partition.map(Seq(_)).getOrElse(0 until partitions);
           o <- firstAtOrAfter(p, lo) until firstAtOrAfter(p, hi + 1)) {
        val g = if (byRegion) regionName(regions(p)(o)) else p.toString
        val (c, s) = acc.getOrElse(g, (0L, 0L))
        acc(g) = (c + 1, s + amounts(p)(o))
      }
      acc.toSeq.map { case (g, (c, s)) => (g, c, s) }
    }

    /** First offset of partition `p` with timestamp >= `t`. */
    private def firstAtOrAfter(p: Int, t: Long): Int = {
      var lo = 0; var hi = perPartition
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (tsMs(p, mid) < t) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  val Regions = 16
  def regionName(r: Int): String = f"r$r%02d"
  def eventJson(user: Int, region: Int, amount: Int): String =
    s"""{"user":$user,"region":"${regionName(region)}","amount":$amount}"""

  // ---- KAFSQL query sequences -----------------------------------------------

  /** Query classes, in the order of their expected latency. */
  val Cached = 0 // repeated dashboard aggregate, served by the result cache
  val Point = 1 // offset lookup that prunes to one segment
  val TailQ = 2 // TAIL n over one partition
  val Scan = 3 // unique LAST-window GROUP BY over a JSON column
  val ClassNames: Vector[String] = Vector("cached", "point", "tail", "scan")

  /** One block of the interactive mix, before its seeded shuffle: 30 %
    * cached, 40 % point, 10 % tail, 20 % scan. Every percentile the
    * benchmark reports sits at least 10 points from these class
    * boundaries (see [[Stats.selectTail]]). */
  val Block: Vector[Int] = Vector(Cached, Cached, Cached, Point, Point, Point,
    Point, TailQ, Scan, Scan)
  val DashboardsPerClient = 6
  val ScanWindowMin = 20

  final case class Query(cls: Int, sql: String, expected: Seq[Seq[String]])

  private def rows(aggs: Seq[(String, Long, Long)], withSum: Boolean) =
    aggs.map { case (g, c, s) =>
      if (withSum) Seq(g, c.toString, s.toString) else Seq(g, c.toString) }

  /** The dashboard texts of one client: fixed, distinct across clients, and
    * few enough that every client's set fits in the result cache together. */
  def dashboards(e: Estate, client: Int): Vector[Query] =
    Vector.tabulate(DashboardsPerClient) { j =>
      val mins = 5 + 5 * j + client
      val lo = NowMs - mins * 60000L
      if (j % 2 == 0)
        Query(Cached, s"SELECT _partition, COUNT(*) AS n FROM events " +
          s"GROUP BY _partition LAST ${mins}m",
          rows(e.aggregate(lo, NowMs, None, byRegion = false), withSum = false))
      else {
        val p = (client * DashboardsPerClient + j) % e.partitions
        Query(Cached, s"SELECT region, SUM(amount) AS total FROM events " +
          s"WHERE _partition = $p GROUP BY region LAST ${mins}m",
          e.aggregate(lo, NowMs, Some(p), byRegion = true)
            .map { case (g, _, s) => Seq(g, s.toString) })
      }
    }

  /** `blocks` × [[Block]] queries for one client. Dashboards cycle in a
    * fixed order, so each is re-read every few blocks and never ages out
    * of the LRU cache; scan queries carry a unique upper time bound, so
    * they always miss it. */
  def querySequence(e: Estate, seed: Long, client: Int, blocks: Int): Vector[Query] = {
    val r = rng(seed, 1000 + client)
    val dash = dashboards(e, client)
    var nDash = 0
    var nScan = 0
    val out = Vector.newBuilder[Query]
    for (_ <- 0 until blocks) {
      val block = Block.toArray
      for (i <- block.length - 1 to 1 by -1) { // Fisher-Yates
        val j = r.nextInt(i + 1); val t = block(i); block(i) = block(j); block(j) = t
      }
      block.foreach {
        case Cached =>
          out += dash(nDash % dash.length); nDash += 1
        case Point =>
          val p = r.nextInt(e.partitions); val o = r.nextInt(e.perPartition)
          out += Query(Point,
            s"SELECT _offset, json_value(_value, '$$.user') AS u, " +
              s"json_value(_value, '$$.amount') AS a FROM events " +
              s"WHERE _partition = $p AND _offset >= $o AND _offset <= $o SCAN FULL",
            Seq(Seq(o.toString, e.users(p)(o).toString, e.amounts(p)(o).toString)))
        case TailQ =>
          val p = r.nextInt(e.partitions); val n = 5 + r.nextInt(16)
          out += Query(TailQ,
            s"SELECT _offset, json_value(_value, '$$.user') AS u FROM events " +
              s"WHERE _partition = $p TAIL $n",
            (e.perPartition - n until e.perPartition).map(o =>
              Seq(o.toString, e.users(p)(o).toString)))
        case Scan =>
          // unique per (client, query): the cache key carries the bound
          val hi = NowMs - 1 - (2L * nScan + client) * 7
          nScan += 1
          val lo = NowMs - ScanWindowMin * 60000L
          out += Query(Scan,
            s"SELECT region, COUNT(*) AS n, SUM(amount) AS total FROM events " +
              s"WHERE _ts <= $hi GROUP BY region LAST ${ScanWindowMin}m",
            rows(e.aggregate(lo, hi, None, byRegion = true), withSum = true))
      }
    }
    out.result()
  }

  // ---- ingest rounds --------------------------------------------------------

  /** One produced record: coordinates, key and value bytes. */
  final case class Rec(partition: Int, offset: Long, tsMs: Long, key: String,
      value: String, valid: Boolean, amount: Int)

  /** The records of ingest round `round` (0-based, warm-up rounds included):
    * `perRound` records over `partitions`, offsets dense after the previous
    * rounds; `malformedEvery`-th records carry truncated JSON. */
  def ingestRound(seed: Long, round: Int, partitions: Int, perRound: Int,
      malformedEvery: Int): Vector[Rec] = {
    val r = rng(seed, 5000 + round)
    val perPart = perRound / partitions
    Vector.tabulate(partitions, perPart) { (p, i) =>
      val off = round.toLong * perPart + i
      val u = r.nextInt(10000); val g = r.nextInt(Regions); val a = 1 + r.nextInt(1000)
      val valid = (i + p + round) % malformedEvery != 0
      val json = eventJson(u, g, a)
      Rec(p, off, NowMs - 3600000L + off * 10 + p, s"u$u",
        if (valid) json else json.substring(0, json.length / 2), valid, a)
    }.flatten
  }

  // ---- CDC rounds -----------------------------------------------------------

  def cdcKey(k: Int): String = f"k$k%06d"
  def cdcPartition(k: Int, partitions: Int): Int = k % partitions

  /** Changes of CDC round `round` (round 0 = the prefill of every key):
    * (key index, value or null for a tombstone). Keys are distinct within a
    * round, so the round's effect does not depend on in-batch ordering. */
  def cdcRound(seed: Long, round: Int, keys: Int, perRound: Int,
      tombstonePct: Int): Vector[(Int, String)] = {
    val r = rng(seed, 9000 + round)
    if (round == 0) Vector.tabulate(keys)(k => (k, s"""{"v":${r.nextInt(1000000)}}"""))
    else {
      val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (picked.size < perRound) picked += r.nextInt(keys)
      picked.toVector.map { k =>
        (k, if (r.nextInt(100) < tombstonePct) null else s"""{"v":${r.nextInt(1000000)}}""")
      }
    }
  }

  /** Order-independent checksum of a key → value table state. */
  def stateChecksum(kvs: Iterator[(String, String)]): Long =
    kvs.foldLeft(0L) { case (acc, (k, v)) => acc + mix(k.hashCode.toLong * 31 + v.hashCode) }

  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 33)) * 0xff51afd7ed558ccdL
    x = (x ^ (x >>> 33)) * 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  // ---- digest ---------------------------------------------------------------

  /** SHA-256 over every input a workload would generate for `seed` with
    * small sizes: equal seeds give equal digests. */
  def inputDigest(seed: Long): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = { md.update(s.getBytes(UTF_8)); md.update(0: Byte) }
    val e = new Estate(seed, 2, 300, 3600000L)
    for (p <- 0 until e.partitions; o <- 0 until e.perPartition)
      add(s"${e.tsMs(p, o)}|${e.key(p, o)}|${e.value(p, o)}")
    for (c <- 0 until 2; q <- querySequence(e, seed, c, 3)) add(q.sql)
    for (r <- 0 until 2; rec <- ingestRound(seed, r, 2, 40, 20)) add(rec.toString)
    for (r <- 0 until 2; (k, v) <- cdcRound(seed, r, 50, 10, 5)) add(s"$k=$v")
    md.digest().map("%02x".format(_)).mkString
  }
}
