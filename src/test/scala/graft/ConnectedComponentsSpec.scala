package graft

import graft.queries.QueryUtil.connectedComponents
import org.apache.spark.sql.DataFrame

/** QueryUtil.connectedComponents, the core of q35 and CorpusPipeline
  * --cluster: every node is labelled with the min node of its component.
  */
class ConnectedComponentsSpec extends SparkSuite {

  private def labels(edges: DataFrame): Map[Any, Any] = {
    val out = connectedComponents(edges)
    assert(out.columns.toSeq == Seq("node", "label"))
    out.collect().map(r => r.get(0) -> r.get(1)).toMap
  }

  test("a 64-node path: the min label travels the whole diameter") {
    import spark.implicits._
    val got = labels((0L until 63L).map(i => (i, i + 1)).toDF("a", "b"))
    assert(got == (0L until 64L).map(n => n -> 0L).toMap)
  }

  test("a star: the centre is the min node, every leaf takes its label") {
    import spark.implicits._
    val got = labels((11L to 20L).map(leaf => (leaf, 10L)).toDF("a", "b"))
    assert(got == (10L to 20L).map(n => n -> 10L).toMap)
  }

  test("two components keep separate labels, whatever the edge direction") {
    import spark.implicits._
    val got = labels(Seq((3L, 2L), (2L, 1L), (9L, 7L), (8L, 9L)).toDF("a", "b"))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L, 9L -> 7L))
  }

  test("url-string keys: labels are the lexicographic min url") {
    import spark.implicits._
    val (a, b, c) = ("https://a.example/1", "https://b.example/2", "https://c.example/3")
    val (y, z) = ("https://y.example/", "https://z.example/")
    val got = labels(Seq((c, a), (b, c), (z, y)).toDF("url_a", "url_b"))
    assert(got == Map(a -> a, b -> a, c -> a, y -> y, z -> y))
  }
}
