package graft

import org.apache.spark.sql.functions._
import graft.functions.Dedup
import graft.operators.{Scd2, Triangles}

/** Round-12 batch-2 operators: SCD2 build, degree-ordered triangle
  * counting, prefix-filter exact Jaccard join — handcrafted fixtures
  * with hand-computed expectations (the registered queries q175–q178
  * put the same operators under the DuckDB hash gate). */
class GraphSimSpec extends SparkSpec {
  import spark.implicits._

  test("Scd2.build compresses runs into half-open intervals, open tail") {
    // user 1: A A B A  -> [A,10..30) [B,30..40) [A,40..)
    // user 2: single C -> open from its only event
    val log = Seq(
      (1L, 10L, 1L, "A"), (1L, 20L, 2L, "A"), (1L, 30L, 3L, "B"),
      (1L, 40L, 4L, "A"), (2L, 99L, 5L, "C"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = Scd2.build(log, "user_id", "ts", "event_id", "event_type")
      .orderBy("user_id", "run")
      .select("user_id", "run", "state", "valid_from", "valid_to")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4)))
    assert(got.toSeq === Seq(
      (1L, 1L, "A", 10L, 30L), (1L, 2L, "B", 30L, 40L), (1L, 3L, "A", 40L, -1L),
      (2L, 1L, "C", 99L, -1L)))
  }

  test("Scd2.build breaks equal-timestamp ties by the tiebreak column") {
    val log = Seq((7L, 10L, 2L, "B"), (7L, 10L, 1L, "A"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = Scd2.build(log, "user_id", "ts", "event_id", "event_type")
      .orderBy("run").select("run", "state").as[(Long, String)].collect()
    assert(got.toSeq === Seq((1L, "A"), (2L, "B")))
  }

  test("Triangles.perNode counts each triangle once per vertex, zero-fills") {
    // K4 on 1..4 (every vertex in C(3,2)=3 triangles) plus a pendant 5
    val k4 = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    val edges = (k4 :+ (4L, 5L)).toDF("a", "b")
    val got = Triangles.perNode(edges)
      .orderBy("n").as[(Long, Long, Long)].collect()
    assert(got.toSeq === Seq(
      (1L, 3L, 3L), (2L, 3L, 3L), (3L, 3L, 3L), (4L, 4L, 3L), (5L, 1L, 0L)))
  }

  test("Triangles.perNode survives a hub (star graph has no triangles)") {
    val edges = (2L to 30L).map(b => (1L, b)).toDF("a", "b")
    val got = Triangles.perNode(edges).agg(sum("triangles")).head.getLong(0)
    assert(got === 0L)
  }

  test("prefixJaccardJoin equals the unfiltered quadratic join") {
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g x"),   // high overlap with 1
      (3L, "p q r s t u v w"),
      (4L, "p q r s t u v w"),   // identical to 3
      (5L, "a b zz yy xx ww vv uu"))
      .toDF("doc_id", "text")
    val got = Dedup.prefixJaccardJoin(docs, "doc_id", "text",
      n = 3, tNum = 1L, tDen = 2L)
      .orderBy("doc_a", "doc_b")
      .as[(Long, Long, Long, Long)].collect()
    // trigram sets: doc1 vs doc2 share 5 of 6 grams -> inter 5, union 7
    // (5/7 >= 1/2 qualifies); docs 3,4 identical -> 6/6; doc5 shares
    // only 'a b *' boundary grams with 1/2 (inter 0: third token differs)
    assert(got.toSeq === Seq((1L, 2L, 5L, 7L), (3L, 4L, 6L, 6L)))
  }

  test("Scd2.merge folds batches associatively: 3-batch fold ≡ one build") {
    val rows = Seq(
      (1L, 10L, 1L, "A"), (1L, 20L, 2L, "B"), (2L, 15L, 3L, "X"),
      (1L, 30L, 4L, "B"), (2L, 35L, 5L, "X"), (3L, 33L, 6L, "N"),
      (1L, 50L, 7L, "C"), (2L, 55L, 8L, "Y"), (3L, 52L, 9L, "N"))
    def df(r: Seq[(Long, Long, Long, String)]) =
      r.toDF("user_id", "ts", "event_id", "event_type")
    val full = Scd2.build(df(rows), "user_id", "ts", "event_id", "event_type")
    val folded = Scd2.merge(
      Scd2.merge(
        Scd2.build(df(rows.take(3)), "user_id", "ts", "event_id", "event_type"),
        df(rows.slice(3, 6)), "user_id", "ts", "event_id", "event_type"),
      df(rows.drop(6)), "user_id", "ts", "event_id", "event_type")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.select("user_id", "run", "state", "valid_from", "valid_to")
        .orderBy("user_id", "run").collect().toSeq
    assert(canon(folded) === canon(full))
  }

  test("prefixJaccardJoin at threshold 1 returns exact-duplicate pairs only") {
    val docs = Seq(
      (1L, "x y z w v"), (2L, "x y z w v"), (3L, "x y z w q"))
      .toDF("doc_id", "text")
    val got = Dedup.prefixJaccardJoin(docs, "doc_id", "text",
      n = 3, tNum = 1L, tDen = 1L)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(got.toSeq === Seq((1L, 2L)))
  }
}
