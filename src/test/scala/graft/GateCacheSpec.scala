package graft

import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.GateCache

/** GateCache's ownership rules: `materialize` fills the cache before it
  * returns; the same gate key used from two live sessions must never
  * collide (a collision would unpersist the other session's working
  * set); a same-session re-registration releases the previous handle
  * BEFORE persisting the new one, so a plan-equal re-run keeps its
  * cache; `release` drops exactly one session's handles. Stopped-session
  * eviction runs on every `materialize` against
  * `sparkContext.isStopped`; it cannot be exercised here without
  * killing the suite's shared context.
  */
class GateCacheSpec extends AnyFunSuite {

  private def cachedRelations(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }

  test("materialize fills the cache before the caller runs any action") {
    val s = TestSpark.spark.newSession()
    val df = GateCache.materialize("gatecache_spec.eager",
      s.range(0, 410, 1, 3).selectExpr("id", "id % 11 AS y"))
    val cached = cachedRelations(df)
    assert(cached.nonEmpty && cached.forall(_.cacheBuilder.isCachedColumnBuffersLoaded),
      s"materialize returned an unfilled cache:\n${df.queryExecution.withCachedData}")
    GateCache.release(s)
  }

  test("same key in two sessions doesn't collide; same-session swap releases") {
    val a = TestSpark.spark.newSession()
    val b = TestSpark.spark.newSession()
    // distinct row counts: the shared CacheManager matches cache
    // entries by PLAN equality, so two sessions caching the same
    // literal plan would alias each other and fake a collision
    val dfA = GateCache.materialize("gatecache_spec", a.range(100).toDF("x"))
    val dfB = GateCache.materialize("gatecache_spec", b.range(150).toDF("x"))
    assert(dfA.storageLevel.useMemory,
      "registering the same key from session B unpersisted session A's df")

    val dfA2 = GateCache.materialize("gatecache_spec", a.range(200).toDF("x"))
    assert(!dfA.storageLevel.useMemory,
      "same-session re-registration must release the previous handle")
    assert(dfA2.storageLevel.useMemory && dfB.storageLevel.useMemory)

    GateCache.release(a)
    GateCache.release(b)
  }

  test("a plan-equal re-registration stays cached through its action") {
    // the re-run of a gate: same key, same session, an EQUAL plan. Its
    // persist must not alias the previous entry and then lose it when
    // the previous handle is released.
    val s = TestSpark.spark.newSession()
    def gate = s.range(0, 300, 1, 2).selectExpr("id", "id * 7 AS y")
    GateCache.materialize("gatecache_spec.equal", gate)
    val second = GateCache.materialize("gatecache_spec.equal", gate)
    assert(second.selectExpr("sum(y)").head().getLong(0) == 7L * 299 * 300 / 2)
    assert(second.storageLevel.useMemory,
      "the re-registered handle lost its cache entry")
    val cached = cachedRelations(second)
    assert(cached.nonEmpty && cached.forall(_.cacheBuilder.isCachedColumnBuffersLoaded),
      s"the action did not read a filled cache:\n${second.queryExecution.withCachedData}")
    GateCache.release(s)
  }

  test("release(session) unpersists every handle of that session only") {
    val a = TestSpark.spark.newSession()
    val b = TestSpark.spark.newSession()
    val a1 = GateCache.materialize("gatecache_spec.r1", a.range(310).toDF("x"))
    val a2 = GateCache.materialize("gatecache_spec.r2", a.range(320).toDF("x"))
    val b1 = GateCache.materialize("gatecache_spec.r1", b.range(330).toDF("x"))
    GateCache.release(a)
    assert(!a1.storageLevel.useMemory && !a2.storageLevel.useMemory,
      "release left one of the session's handles persisted")
    assert(b1.storageLevel.useMemory,
      "releasing session A unpersisted session B's handle")
    GateCache.release(b)
    assert(!b1.storageLevel.useMemory)
  }
}
