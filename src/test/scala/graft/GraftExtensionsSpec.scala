package graft

import graft.app.SparkUtil
import graft.plans.{GraftBloomProbe, GraftExtensions, GraftFunctions, MinhashMd5, SimhashMd5,
  SortedIntersectCount, VectorDot}
import org.apache.spark.sql.{AnalysisException, ExtensionsAccess, SparkSession,
  SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** `GraftExtensions` installs every engine function into a session's
  * function registry: through `SparkUtil.session`, and through
  * `spark.sql.extensions=graft.plans.GraftExtensions` for a session
  * built elsewhere.
  */
class GraftExtensionsSpec extends SparkSuite {

  private val expected = Map[String, (Int, Class[_])](
    "sorted_intersect_count" -> (2, classOf[SortedIntersectCount]),
    "vector_dot" -> (2, classOf[VectorDot]),
    "minhash_md5" -> (1, classOf[MinhashMd5]),
    "simhash_md5" -> (1, classOf[SimhashMd5]),
    "graft_bloom_agg" -> (2, classOf[BloomFilterAggregate]),
    "graft_might_contain" -> (2, classOf[GraftBloomProbe]))

  /** A builtin registry with `ext` applied, the way a session build does. */
  private def installed(ext: SparkSessionExtensions => Unit): FunctionRegistry = {
    val e = new SparkSessionExtensions
    ext(e)
    ExtensionsAccess.registerFunctions(e, FunctionRegistry.builtin.clone())
  }

  test("GraftExtensions registers each GraftFunctions entry, and each builds its expression") {
    assert(GraftFunctions.entries.map(_._1.funcName).toSet == expected.keySet)

    val plain = FunctionRegistry.builtin.clone()
    val reg = installed(new GraftExtensions)
    for ((name, (arity, cls)) <- expected) {
      val id = FunctionIdentifier(name)
      assert(!plain.functionExists(id), s"$name is already a builtin")
      assert(reg.functionExists(id), s"$name not registered")
      assert(reg.lookupFunction(id).map(_.getClassName).contains(cls.getName), name)
      val built = reg.lookupFunction(id, Seq.tabulate(arity)(i => Literal(i.toLong)))
      assert(built.getClass == cls, s"$name built ${built.getClass.getName}")
    }
  }

  test("spark.sql.extensions route: the class, built by name through its no-arg constructor, " +
    "installs the six functions") {
    val ext = Class.forName("graft.plans.GraftExtensions").getConstructor().newInstance()
      .asInstanceOf[SparkSessionExtensions => Unit]
    val reg = installed(ext)
    for (name <- expected.keys)
      assert(reg.functionExists(FunctionIdentifier(name)), s"$name not registered")
  }

  test("a newSession() of a factory-built session runs all six functions") {
    val s = spark.newSession()
    val r = s.sql(
      """SELECT sorted_intersect_count(array('a','b','c'), array('b','c','d')) AS c,
         vector_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
         minhash_md5(array('a b c')) AS mh,
         simhash_md5(array('tok')) AS sh""").collect()(0)
    assert(r.getInt(0) == 2)
    assert(r.getDouble(1) == 11.0)
    assert(r.getSeq[String](2).size == 16)
    assert(r.getString(3).length == 32)
    // Bloom build + probe through the scalar-subquery form: a key in the
    // filter hits; a key outside it (at this size, with near-certainty)
    // misses.
    val b = s.sql(
      """SELECT graft_might_contain(
           (SELECT graft_bloom_agg(xxhash64(CAST(v AS STRING)), 10000L)
            FROM (SELECT explode(sequence(1, 1000)) AS v)),
           xxhash64(CAST(500 AS STRING))) AS hit,
         graft_might_contain(
           (SELECT graft_bloom_agg(xxhash64(CAST(v AS STRING)), 10000L)
            FROM (SELECT explode(sequence(1, 1000)) AS v)),
           xxhash64('definitely-absent-key')) AS miss""").collect()(0)
    assert(b.getBoolean(0))
    assert(!b.getBoolean(1))
  }

  test("a wrong argument count fails at analysis naming the function and both counts") {
    for ((sql, name, want, got) <- Seq(
        ("vector_dot(array(1.0d, 2.0d), array(3.0d, 4.0d), array(9.0d))", "vector_dot", 2, 3),
        ("minhash_md5(array('a'), array('b'))", "minhash_md5", 1, 2),
        ("sorted_intersect_count(array('a','b'))", "sorted_intersect_count", 2, 1))) {
      val e = intercept[AnalysisException](spark.sql(s"SELECT $sql").collect())
      assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", e.getMessage)
      assert(e.getMessageParameters.get("functionName") == s"`$name`", e.getMessage)
      assert(e.getMessageParameters.get("expectedNum") == want.toString, e.getMessage)
      assert(e.getMessageParameters.get("actualNum") == got.toString, e.getMessage)
    }
  }

  test("the session factory rejects an active session that lacks a function") {
    val s = spark.newSession()
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.functionRegistry
      .dropFunction(FunctionIdentifier("vector_dot"))
    assert(!s.catalog.functionExists("vector_dot"))
    SparkSession.setActiveSession(s)
    try {
      val e = intercept[IllegalStateException](SparkUtil.session("graft-test", "4"))
      assert(e.getMessage.contains("vector_dot"), e.getMessage)
      assert(!e.getMessage.contains("minhash_md5"), e.getMessage)
      assert(e.getMessage.contains("--conf spark.sql.extensions=graft.plans.GraftExtensions"),
        e.getMessage)
    } finally SparkSession.setActiveSession(spark)
  }
}
