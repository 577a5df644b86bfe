package graft

import graft.operators.{Bpe, Graph, TextDedup}

/** Lifetime contract of the iteration runner ([[graft.operators.Iterate]]):
  * an iterative operator leaves behind exactly the checkpoint its
  * returned frame reads — every superseded round is released — and
  * that frame stays readable while the caller holds it, across later
  * calls of the same operator.
  */
class IterateSpec extends SparkSpec {
  import spark.implicits._

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  // LlmOpsSpec's components fixture: chain 1-2-3-4, pair 10-11, and an
  // isolated pair joined out of order
  private def chain = Seq((2L, 3L), (1L, 2L), (3L, 4L), (10L, 11L), (21L, 20L))
    .toDF("id_1", "id_2")

  private def words = Seq("low lower lowest", "newer newest new",
    "wider widest low").toDF("text")

  /** A read of what one call returned, repeatable while it is held. */
  private type Held = () => Seq[String]

  /** (operator, one call, persistent RDDs the call may leave behind) */
  private val cases: Seq[(String, () => Held, Int)] = Seq(
    ("dupClusters", () => rowsOf(TextDedup.dupClusters(chain)), 1),
    ("pageRank", () => rowsOf(Graph.pageRank(chain, "id_1", "id_2", iters = 3)), 1),
    ("triangleStats", () => rowsOf(Graph.triangleStats(chain, "id_1", "id_2")), 1),
    ("Bpe.train", () => {
      val merges = Bpe.train(words, "text", numMerges = 6).map(_.toString)
      () => merges
    }, 0))

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Held =
    () => df.collect().map(_.toString).toSeq.sorted

  for ((name, call, left) <- cases)
    test(s"$name leaves $left persistent RDD(s); a held result survives a second call") {
      val before = persistentIds
      val held = call()
      assert((persistentIds -- before).size === left,
        s"$name left ${(persistentIds -- before).size} persistent RDDs")
      val first = held()
      val again = call()
      assert(held() === first)
      assert(again() === first)
    }

  test("substringScrub releases its segment cache after the first action") {
    val d = Seq((1L, "one two three four one two three four"),
      (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val before = persistentIds
    val out = TextDedup.substringScrub(d, "doc_id", "text", segTokens = 4)
    val first = out.collect().map(_.toString).sorted
    // the release runs on the listener bus
    org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
    assert((persistentIds -- before).isEmpty)
    assert(out.collect().map(_.toString).sorted === first)
  }
}
