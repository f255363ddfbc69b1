package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.Text
import graft.functions.expressions.ArrayOps

class ArrayOpsExprSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("native shingles match the HOF formulation as sets") {
    val df = Seq("a b c d e", "x y", "p p p p").toDF("text")
      .select(
        array_sort(array_distinct(Text.shingles(Text.tokens(col("text")), 2))).as("hof"),
        array_sort(ArrayOps.wordShingles(Text.tokens(col("text")), 2)).as("native"))
    df.collect().foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
  }

  test("native minhash: identical sets agree, different sets differ, width respected") {
    val df = Seq("a b c d e f g h", "a b c d e f g h", "q r s t u v w x")
      .toDF("text")
      .select(ArrayOps.minhashSig(
        ArrayOps.wordShingles(Text.tokens(col("text")), 2), 32).as("mh"))
    val rows = df.collect().map(_.getSeq[Long](0))
    assert(rows(0) == rows(1) && rows(0) != rows(2) && rows(0).length == 32)
  }

  test("native dot product matches HOF aggregate bit-for-bit") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(0.5, -1.0, 2.0))).toDF("a", "b")
      .select(
        ArrayOps.dotProduct(col("a"), col("b")).as("native"),
        expr("aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)").as("hof"))
    val r = df.collect().head
    assert(r.getDouble(0) == r.getDouble(1))
    assert(r.getDouble(0) == 1.0 * 0.5 + 2.0 * -1.0 + 3.0 * 2.0)
  }

  test("hyperplane bucket: deterministic, opposite vectors land apart") {
    val planes = Seq.fill(4)(Seq.fill(3)(1.0)) // all-ones planes
    val df = Seq(Seq(1.0, 1.0, 1.0), Seq(-1.0, -1.0, -1.0)).toDF("v")
      .select(ArrayOps.hyperplaneBucket(col("v"), planes).as("b"))
    val bs = df.collect().map(_.getLong(0))
    assert(bs(0) == 15L && bs(1) == 0L)
  }

  test("sortedHashes skips null elements instead of hashing them to 0") {
    // round-7 ADVICE: a 0L placeholder made nulls collide with each
    // other (and with any string hashing to 0) in sorted-intersect
    val df = Seq(1).toDF("x").select(
      ArrayOps.sortedHashes(
        expr("array('a', CAST(NULL AS STRING), 'b')")).as("withNull"),
      ArrayOps.sortedHashes(expr("array('a', 'b')")).as("noNull"),
      ArrayOps.sortedHashes(
        expr("array(CAST(NULL AS STRING), CAST(NULL AS STRING))"))
        .as("allNull"))
    val r = df.collect().head
    assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    assert(r.getSeq[Long](2).isEmpty)
  }

  test("orderedPairs equals the HOF bucket-pair formulation") {
    // r16 pair-kernel pin: the native emitter must equal the
    // flatten(transform(filter)) HOF it replaced — same pairs, same
    // order — on random bucket id lists (incl. empty and singleton)
    val rnd = new scala.util.Random(7)
    val cases = (Seq(Seq.empty[Long], Seq(5L)) ++ (1 to 40).map { _ =>
      val n = rnd.nextInt(20)
      (0 until n).map(_ => rnd.nextInt(12).toLong)
    }).toDF("ids")
    val both = cases.select(
      ArrayOps.orderedPairs(col("ids")).as("native"),
      expr("""flatten(transform(ids, a ->
             |  transform(filter(ids, b -> b > a),
             |            b -> named_struct('doc1', a, 'doc2', b))))"""
        .stripMargin).as("hof"))
    both.collect().foreach { r =>
      assert(r.getSeq[Any](0) == r.getSeq[Any](1))
    }
  }

  test("removeRuns equals position-set removal on random docs/runs") {
    // property pin for the r16 q83/q83b tail rewrite: the native
    // run-removal kernel must equal the old explode/anti-join
    // formulation — remove every token position inside any [s, e]
    val rnd = new scala.util.Random(42)
    val cases = (1 to 60).map { _ =>
      val n = rnd.nextInt(30)
      val toks = (0 until n).map(i => s"t${rnd.nextInt(8)}_$i")
      // random disjoint sorted runs over 0..n-1 (may be empty)
      var pos = 0
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      while (pos < n) {
        val gap = rnd.nextInt(4)
        val s0 = pos + gap
        val e0 = s0 + rnd.nextInt(5)
        if (s0 < n && rnd.nextBoolean()) { runs += ((s0, math.min(e0, n - 1))) }
        pos = e0 + 1
      }
      (toks, runs.toSeq)
    }
    val df = cases.toDF("toks", "runs")
      .select(col("toks"), col("runs")
        .cast("array<struct<s:int,e:int>>").as("runs"))
      .select(col("toks"), col("runs"),
        ArrayOps.removeRuns(col("toks"), col("runs")).as("r"))
    df.collect().zip(cases).foreach { case (row, (toks, runs)) =>
      val coveredSet = runs.flatMap { case (s0, e0) => s0 to e0 }.toSet
      val kept = toks.zipWithIndex.filterNot(t => coveredSet(t._2))
      assert(row.getStruct(2).getLong(0) == kept.length.toLong)
      assert(row.getStruct(2).getString(1) == kept.map(_._1).mkString(" "))
    }
  }

  test("cappedLongs equals collect_list under the bucket-cap filter") {
    // r17 kernel pin: for groups of size <= cap the capped aggregate
    // IS collect_list; larger groups still report size >= cap + 1 so
    // a `size <= cap` filter drops them in both formulations.
    import graft.functions.expressions.CappedLongsAgg
    val cap = 5
    val rnd = new scala.util.Random(23)
    val rows = (1 to 400).map { i =>
      (rnd.nextInt(40).toLong, i.toLong) // 40 groups, sizes ~10
    }
    val df = rows.toDF("g", "id")
    val a = df.groupBy(col("g"))
      .agg(CappedLongsAgg.cappedLongs(col("id"), cap + 1).as("ids"))
      .where(size(col("ids")).between(2, cap))
      .select(col("g"), array_sort(col("ids")).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val b = df.groupBy(col("g"))
      .agg(collect_list(col("id")).as("ids"))
      .where(size(col("ids")).between(2, cap))
      .select(col("g"), array_sort(col("ids")).as("ids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(a == b)
    assert(b.nonEmpty, "fixture must produce some under-cap groups")
    // over-cap groups report exactly cap + 1 (the drop sentinel)
    val over = df.groupBy(col("g"))
      .agg(CappedLongsAgg.cappedLongs(col("id"), cap + 1).as("ids"))
      .where(size(col("ids")) > cap)
      .select(size(col("ids"))).collect().map(_.getInt(0))
    assert(over.nonEmpty && over.forall(_ == cap + 1))
  }

  test("bandKeys equals the HOF transform/slice/concat_ws formulation") {
    // r17 kernel pin: identical strings, identical order, incl. the
    // clamped short-array edge (slice past the end yields fewer rows)
    val rnd = new scala.util.Random(19)
    // null elements: concat_ws skips them and their separator
    val nulls = Seq(1).toDF("x").select(
      expr("array(CAST(NULL AS BIGINT), 5L, CAST(NULL AS BIGINT), 6L)").as("mh"))
    val cases = (Seq(Seq.empty[Long], Seq(7L), Seq(1L, 2L, 3L)) ++
      (1 to 30).map { _ =>
        (0 until 32).map(_ => rnd.nextLong(1L << 56)).toSeq
      }).toDF("mh").union(nulls)
    for ((nb, rpb) <- Seq((32, 1), (16, 2), (8, 4))) {
      val both = cases.select(
        ArrayOps.bandKeys(col("mh"), nb, rpb).as("native"),
        graft.functions.Text.lshBandKeysSpec(col("mh"), nb, rpb).as("hof"))
      both.collect().foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"nb=$nb rpb=$rpb")
      }
    }
    assert(nulls.select(ArrayOps.bandKeys(col("mh"), 2, 2)).head().getSeq[String](0) ==
      Seq("5", "6"))
    assert(nulls.select(ArrayOps.bandKeys(col("mh"), 1, 4)).head().getSeq[String](0) ==
      Seq("5_6"))
  }

  test("removeRuns null tokens follow concat_ws: skipped, no separator") {
    // r16 advice: the kernel replaced a concat_ws reassembly, and
    // concat_ws skips null elements ENTIRELY — [a, null, b] is 'a b',
    // not 'a  b'. kept_tokens still counts the position (the old
    // anti-join counted kept positions, token value included or not).
    val df = Seq(1).toDF("x").select(
      ArrayOps.removeRuns(
        expr("array('a', CAST(NULL AS STRING), 'b')"),
        expr("CAST(array() AS array<struct<s:int,e:int>>)")).as("r"))
    val r = df.select(col("r.kept_tokens"), col("r.kept_text")).collect().head
    assert(r.getLong(0) == 3L)
    assert(r.getString(1) == "a b")
    // leading null: no leading separator either
    val df2 = Seq(1).toDF("x").select(
      ArrayOps.removeRuns(
        expr("array(CAST(NULL AS STRING), 'a', '', 'b')"),
        expr("CAST(array() AS array<struct<s:int,e:int>>)")).as("r"))
    val r2 = df2.select(col("r.kept_tokens"), col("r.kept_text")).collect().head
    assert(r2.getLong(0) == 4L)
    assert(r2.getString(1) == "a  b") // empty string keeps its separator
  }

  test("intraDocDedup tolerates null tokens (rebuilds them as empty)") {
    val df = Seq(1).toDF("x").select(
      ArrayOps.intraDocDedup(
        expr("array('a', CAST(NULL AS STRING), 'b')"), 2).as("d"))
    val r = df.select(col("d.kept_tokens"), col("d.kept_text")).collect().head
    assert(r.getLong(0) == 3L)
    assert(r.getString(1) == "a  b") // null renders empty, stays counted
  }
}

class IntersectCountSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("native intersect count matches array_intersect size") {
    val df = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq("x"), Seq("y")),
      (Seq[String](), Seq("a")))
      .toDF("a", "b")
      .select(
        ArrayOps.intersectCount(col("a"), col("b")).as("native"),
        size(array_intersect(col("a"), col("b"))).as("builtin"))
    df.collect().foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }
}
