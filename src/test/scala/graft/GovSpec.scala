package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.gov._
import graft.kafsql.Kafsql
import graft.queries.KafsqlPack

/** Governance layer: result cache (X12), admission (X8/X10), timeout (X11). */
class GovSpec extends AnyFunSuite {
  import TestSpark._

  test("result cache: identical bounded query hits cache inside TTL") {
    val gov = new Governor(Guardrails(resultCacheTtlMs = 60000))
    val reg = KafsqlPack.registry(sf)
    val sql = "SELECT _partition, COUNT(*) AS cnt FROM events GROUP BY _partition LAST 30d"
    val r1 = Kafsql.governed(spark, reg, gov, sql, nowMs = Tables.FixedNowMs).collect()
    assert(gov.cacheSize == 1 && gov.hits == 0)
    val r2 = Kafsql.governed(spark, reg, gov, sql, nowMs = Tables.FixedNowMs).collect()
    assert(gov.hits == 1)
    assert(r1.map(_.toString).toSeq == r2.map(_.toString).toSeq)
  }

  test("result cache skips TAIL and SCAN FULL (server.go:557-598)") {
    val gov = new Governor(Guardrails())
    val reg = KafsqlPack.registry(sf)
    Kafsql.governed(spark, reg, gov,
      "SELECT _offset FROM events TAIL 3", nowMs = Tables.FixedNowMs).collect()
    Kafsql.governed(spark, reg, gov,
      "SELECT _offset FROM events SCAN FULL", nowMs = Tables.FixedNowMs).collect()
    assert(gov.cacheSize == 0)
  }

  test("result cache entries expire after the TTL") {
    val gov = new Governor(Guardrails(resultCacheTtlMs = 1))
    val reg = KafsqlPack.registry(sf)
    val sql = "SELECT COUNT(*) AS c FROM events LAST 30d"
    Kafsql.governed(spark, reg, gov, sql, nowMs = Tables.FixedNowMs).collect()
    Thread.sleep(10)
    Kafsql.governed(spark, reg, gov, sql, nowMs = Tables.FixedNowMs).collect()
    assert(gov.hits == 0) // expired, never served from cache
  }

  test("cache key normalizes whitespace/case but separates time bounds") {
    val gov = new Governor(Guardrails())
    val a = gov.cacheKey("SELECT  *  FROM t LAST 5m", (Some(1L), Some(2L)))
    val b = gov.cacheKey("select * from t last 5m", (Some(1L), Some(2L)))
    val c = gov.cacheKey("select * from t last 5m", (Some(9L), Some(2L)))
    assert(a == b && a != c)
  }

  test("scan admission rejects over-budget segment sets (server.go:2854-2862)") {
    val rails = Guardrails(maxScanSegments = 10, maxScanBytes = 1000)
    ScanAdmission.admit(5, 500, rails)
    intercept[ScanAdmission.ScanLimitException](ScanAdmission.admit(11, 1, rails))
    intercept[ScanAdmission.ScanLimitException](ScanAdmission.admit(1, 1001, rails))
  }

  test("concurrency limiter: queue overflow rejected (query_limiter.go:28-87)") {
    val gov = new Governor(Guardrails(maxConcurrent = 1, queueSize = 0))
    val latch = new java.util.concurrent.CountDownLatch(1)
    val started = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => gov.withAdmission() { started.countDown(); latch.await() })
    t.start()
    started.await()
    // maxConcurrent+queueSize = 1 -> a second concurrent query overflows
    intercept[gov.QueryQueueFullException](gov.withAdmission()(()))
    latch.countDown()
    t.join()
  }

  test("max_rows is enforced before materialization on every collect path") {
    // The audit question: can a hostile query make the driver collect an
    // unbounded result? Enforcement is STRUCTURAL — every planned Select
    // ends in .limit(n) with n ≤ max_rows (Planner.effectiveLimit), so the
    // cap is in the plan before Governor.cachedOrRunRows / Kafsql.sql /
    // pg-wire ever call collect (row_collector.go:24-67).
    val rails = Guardrails(maxRows = 7, defaultLimit = 1000)
    val gov = new Governor(rails)
    val reg = KafsqlPack.registry(sf)
    // 1. an explicit LIMIT above max_rows is rejected at validation — before
    //    planning, admission, or any materialization (cache stays empty)
    intercept[graft.kafsql.KafsqlException] {
      Kafsql.governedRows(spark, reg, gov,
        "SELECT _offset FROM events LIMIT 8 LAST 30d",
        nowMs = Tables.FixedNowMs, rails = rails)
    }
    assert(gov.cacheSize == 0 && gov.hits == 0)
    // 2. a query with NO limit over a 1000-row topic: the default limit is
    //    capped at max_rows inside the plan — exactly 7 rows reach collect
    val (_, rows) = Kafsql.governedRows(spark, reg, gov,
      "SELECT _offset FROM events LAST 30d",
      nowMs = Tables.FixedNowMs, rails = rails)
    assert(rows.length == 7)
    // 3. the ungoverned Kafsql.sql path is equally bounded: the cap lives
    //    in the PLAN, not in the governor wrapper
    assert(Kafsql.sql(spark, reg, "SELECT _offset FROM events LAST 30d",
      nowMs = Tables.FixedNowMs, rails = rails).collect().length == 7)
    // 4. even a misconfigured default_limit > max_rows cannot leak through:
    //    SCAN FULL (cache-exempt, maxUnboundedScan-capped) also min()s with
    //    max_rows
    val scanRails = Guardrails(maxRows = 5, defaultLimit = 1000,
      maxUnboundedScan = 1000)
    assert(Kafsql.sql(spark, reg, "SELECT _offset FROM events SCAN FULL",
      nowMs = Tables.FixedNowMs, rails = scanRails).collect().length == 5)
  }

  test("timeout cancels long queries (server.go:2847-2852)") {
    val gov = new Governor(Guardrails(queryTimeoutMs = 300))
    intercept[Exception] {
      gov.withTimeout(spark, 300) {
        import spark.implicits._
        // ~32s of sleep across tasks — must be cancelled at 300ms
        spark.range(32).as[Long].map { i => Thread.sleep(1000); i }.count()
      }
    }
  }

  test("withTimeout starts no timer thread per query") {
    def timers = Thread.getAllStackTraces.keySet.toArray
      .map(_.asInstanceOf[Thread]).filter(_.getName.startsWith("Timer-")).toSet
    val gov = new Governor(Guardrails(queryTimeoutMs = 60000))
    val before = timers
    val started = gov.withTimeout(spark, 60000)(timers -- before)
    assert(started.isEmpty, s"a governed query started ${started.map(_.getName)}")
  }

  // ---- topic ACL (proxy/acl.go:28-68, proxy.go:268-320) -------------------

  test("ACL allows: deny wins, empty allow = allow-all, globs (acl_test.go)") {
    val acl = TopicAcl(allow = Seq("orders", "shipments-*"),
      deny = Seq("orders-secret"))
    assert(acl.allows("orders"))
    assert(acl.allows("shipments-eu"))
    assert(!acl.allows("orders-secret")) // deny wins
    assert(!acl.allows("payments"))      // not in allow
    val openAcl = TopicAcl()
    assert(openAcl.allows("anything"))
    val denyOnly = TopicAcl(deny = Seq("pay*"))
    assert(!denyOnly.allows("payments") && denyOnly.allows("orders"))
    // ? and character classes (Go path.Match subset)
    assert(TopicAcl(allow = Seq("t?pic")).allows("topic"))
    assert(!TopicAcl(allow = Seq("t?pic")).allows("tooopic"))
    assert(TopicAcl(allow = Seq("env-[ab]")).allows("env-a"))
    assert(!TopicAcl(allow = Seq("env-[ab]")).allows("env-c"))
    assert(TopicAcl(allow = Seq("env-[^ab]")).allows("env-c"))
    // malformed class never matches (path.Match ErrBadPattern -> no match)
    assert(!TopicAcl(allow = Seq("bad[")).allows("bad"))
  }

  test("ACL show-topics gate (acl.go:38-46)") {
    assert(TopicAcl().allowShowTopics)
    assert(!TopicAcl(deny = Seq("payments")).allowShowTopics)
    assert(!TopicAcl(allow = Seq("orders")).allowShowTopics)
    assert(TopicAcl(allow = Seq("*")).allowShowTopics)
  }

  test("authorizer mirrors authorizeQuery semantics (authorize_test.go)") {
    val a = new AclAuthorizer(TopicAcl(allow = Seq("orders", "payments")))
    assert(a.authorize("SELECT * FROM orders LAST 1h;").allowed)
    assert(!a.authorize("SELECT * FROM shipments LAST 1h;").allowed)
    val join = a.authorize(
      "SELECT o._key FROM orders o JOIN payments p ON o._key = p._key WITHIN 10m LAST 1h")
    assert(join.allowed && join.topics == Seq("orders", "payments"))
    // SHOW SEGMENTS is topic-scoped like SHOW PARTITIONS
    assert(a.authorize("SHOW SEGMENTS FROM orders").allowed)
    assert(!a.authorize("SHOW SEGMENTS FROM shipments").allowed)
    // SHOW TOPICS denied when scoped; allowed on an open ACL
    val st = a.authorize("SHOW TOPICS;")
    assert(!st.allowed && st.reason == "show topics is not allowed by proxy ACL")
    assert(AclAuthorizer.open.authorize("SHOW TOPICS").allowed)
    // EVERY statement shape authorizes cleanly under a scoped ACL — a
    // MatchError here would abort instead of denying with the proxy's text
    assert(a.authorize("SHOW OFFSETS FROM orders").allowed)
    assert(!a.authorize("SHOW OFFSETS FROM shipments").allowed)
    assert(a.authorize("SHOW OFFSETS FROM orders AT '2024-01-15'").allowed)
    assert(!a.authorize("SHOW OFFSETS FROM shipments AT 0").allowed)
    assert(a.authorize("DESCRIBE CONFIGS orders").allowed)
    assert(!a.authorize("DESCRIBE CONFIGS shipments").allowed)
    assert(a.authorize("SHOW GROUPS").allowed)
    assert(a.authorize("DESCRIBE GROUP g1").allowed)
    // SET/RESET pass without parsing; unparseable statements fail closed
    assert(a.authorize("SET client_encoding = 'UTF8';").allowed)
    assert(a.authorize("RESET ALL;").allowed)
    val ins = a.authorize("INSERT INTO orders VALUES (1);")
    assert(!ins.allowed && ins.reason == "proxy cannot authorize query")
    // denial reason names the topic (proxy.go:289-291)
    assert(a.authorize("DESCRIBE shipments").reason ==
      "access denied to topic \"shipments\"")
    // EXPLAIN authorizes its inner select
    assert(a.authorize("EXPLAIN SELECT * FROM orders LAST 1h").allowed)
    assert(!a.authorize("EXPLAIN SELECT * FROM shipments LAST 1h").allowed)
  }

  test("authorizer decision cache: bounded, repeat decisions served cached") {
    val a = new AclAuthorizer(TopicAcl(allow = Seq("orders")), maxEntries = 2)
    a.authorize("SELECT * FROM orders LAST 1h")
    a.authorize("SELECT * FROM orders LAST 2h")
    assert(a.cacheSize == 2)
    a.authorize("SELECT * FROM orders LAST 3h") // evicts the oldest
    assert(a.cacheSize == 2)
    // same query again: decision identical (served from cache)
    val d1 = a.authorize("SELECT * FROM orders LAST 3h")
    val d2 = a.authorize("SELECT * FROM orders LAST 3h")
    assert(d1 == d2 && d1.allowed)
    // open ACL fast path never populates the cache
    val open = new AclAuthorizer(TopicAcl())
    open.authorize("SELECT * FROM anything LAST 1h")
    assert(open.cacheSize == 0)
  }

  test("Kafsql.sql enforces the ACL before planning") {
    val reg = KafsqlPack.registry(sf)
    val auth = new AclAuthorizer(TopicAcl(deny = Seq("events")))
    val ex = intercept[AclDeniedException] {
      Kafsql.sql(spark, reg, "SELECT COUNT(*) AS c FROM events LAST 30d",
        nowMs = Tables.FixedNowMs, authorizer = auth)
    }
    assert(ex.getMessage == "access denied to topic \"events\"")
  }
}
