package graft.ops

import graft.SharedSpark

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The two public dedup combinators checked against driver-side references
  * on seeded random id sets and pair lists: pairs repeat, many endpoints are
  * absent from `df`, and `df` carries null-id rows.
  */
class DedupByPairsSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private val seeds = Seq(3, 17, 41)

  /** `n` distinct ids from [0, 4n) plus two null-id rows, each with a row
    * payload; `m` pairs `(a < b)` whose endpoints come from the id set three
    * times in four and from the whole range otherwise (so often absent),
    * then a fifth of them repeated.
    */
  private def fixture(seed: Int, n: Int = 60, m: Int = 80)
      : (Seq[(Option[Long], String)], Seq[(Long, Long)]) = {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((0L until 4L * n).toList).take(n).toIndexedSeq
    def endpoint(): Long =
      if (rnd.nextInt(4) == 0) rnd.nextInt(4 * n).toLong else ids(rnd.nextInt(n))
    val distinct = Seq.fill(m)((endpoint(), endpoint()))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val pairs = rnd.shuffle(distinct ++ distinct.take(m / 5))
    val rows = (ids.map(Some(_)) ++ Seq(None, None)).zipWithIndex
      .map { case (id, i) => (id, s"row$i") }
    (rows, pairs)
  }

  private def collectRows[A](df: DataFrame)(id: org.apache.spark.sql.Row => A)
      : Seq[(A, String)] =
    df.collect().map(r => (id(r), r.getString(1))).toSeq.sortBy(_._2)

  private def fixtureSanity(rows: Seq[(Option[Long], String)], pairs: Seq[(Long, Long)]): Unit = {
    val present = rows.flatMap(_._1).toSet
    assert(pairs.distinct.size < pairs.size, "fixture needs repeated pairs")
    assert(pairs.exists { case (a, b) => !present(a) || !present(b) },
      "fixture needs endpoints absent from df")
  }

  test("dedupByPairs == drop the ids on the id_b side (long and string ids)") {
    seeds.foreach { seed =>
      val (rows, pairs) = fixture(seed)
      fixtureSanity(rows, pairs)
      val losers = pairs.map(_._2).toSet
      val want = rows.filter { case (id, _) => id.forall(i => !losers(i)) }.sortBy(_._2)
      assert(want.size < rows.size && want.count(_._1.isEmpty) == 2)
      val got = collectRows(Dedup.dedupByPairs(rows.toDF("id", "payload"), "id",
        pairs.toDF("id_a", "id_b")))(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
      assert(got == want, s"seed $seed long ids")
      // string ids: the same sets spelled as strings, pairs re-ordered so
      // id_a < id_b under string order
      def str(i: Long) = s"d$i"
      val strPairs = pairs.map { case (a, b) =>
        if (str(a) < str(b)) (str(a), str(b)) else (str(b), str(a))
      }
      val strLosers = strPairs.map(_._2).toSet
      val strRows = rows.map { case (id, p) => (id.map(str), p) }
      val strWant = strRows.filter { case (id, _) => id.forall(i => !strLosers(i)) }
        .sortBy(_._2)
      val strGot = collectRows(Dedup.dedupByPairs(strRows.toDF("id", "payload"), "id",
        strPairs.toDF("id_a", "id_b")))(r => Option(r.getString(0)))
      assert(strGot == strWant, s"seed $seed string ids")
    }
  }

  test("dedupTransitiveByPairs == driver union-find over present endpoints, on both clustering paths") {
    seeds.foreach { seed =>
      val (rows, pairs) = fixture(seed)
      fixtureSanity(rows, pairs)
      val present = rows.flatMap(_._1).toSet
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = parent.get(x) match {
        case Some(p) if p != x => val r = find(p); parent(x) = r; r
        case _ => x
      }
      pairs.foreach { case (a, b) =>
        if (present(a) && present(b)) {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
      }
      // null ids belong to no pair, so they survive like any isolated row
      val want = rows.filter { case (id, _) => id.forall(i => find(i) == i) }.sortBy(_._2)
      val losers = pairs.map(_._2).toSet
      assert(want.size < rows.count { case (id, _) => id.forall(i => !losers(i)) },
        s"seed $seed: fixture needs a chain the one-pass combinator keeps twice")
      def run(dedup: (DataFrame, DataFrame) => DataFrame): Seq[(Option[Long], String)] =
        collectRows(dedup(rows.toDF("id", "payload"), pairs.toDF("id_a", "id_b")))(
          r => Option(r.get(0)).map(_.asInstanceOf[Long]))
      assert(run(Dedup.dedupTransitiveByPairs(_, "id", _)) == want,
        s"seed $seed driver union-find")
      // edge cap 0: the distributed loop
      assert(run(Dedup.dedupTransitiveByPairs(_, "id", _, 0)) == want,
        s"seed $seed distributed loop")
    }
  }
}
