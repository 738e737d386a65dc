package graft

import graft.plans.{GraftBloomProbe, GraftExtensions, GraftFunctions, MinhashMd5, SimhashMd5,
  SortedIntersectCount, VectorDot}
import org.apache.spark.sql.{ExtensionsAccess, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.scalatest.funsuite.AnyFunSuite

/** `spark.sql.extensions=graft.plans.GraftExtensions`: the extension
  * installs every engine function into a session's function registry.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions registers each GraftFunctions entry, and each builds its expression") {
    val expected = Map[String, (Int, Class[_])](
      "sorted_intersect_count" -> (2, classOf[SortedIntersectCount]),
      "vector_dot" -> (2, classOf[VectorDot]),
      "minhash_md5" -> (1, classOf[MinhashMd5]),
      "simhash_md5" -> (1, classOf[SimhashMd5]),
      "graft_bloom_agg" -> (2, classOf[BloomFilterAggregate]),
      "graft_might_contain" -> (2, classOf[GraftBloomProbe]))
    assert(GraftFunctions.entries.map(_._1.funcName).toSet == expected.keySet)

    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val plain = FunctionRegistry.builtin.clone()
    val reg = ExtensionsAccess.registerFunctions(ext, FunctionRegistry.builtin.clone())
    for ((name, (arity, cls)) <- expected) {
      val id = FunctionIdentifier(name)
      assert(!plain.functionExists(id), s"$name is already a builtin")
      assert(reg.functionExists(id), s"$name not registered")
      assert(reg.lookupFunction(id).map(_.getClassName).contains(cls.getName), name)
      val built = reg.lookupFunction(id, Seq.tabulate(arity)(i => Literal(i.toLong)))
      assert(built.getClass == cls, s"$name built ${built.getClass.getName}")
    }
  }
}
