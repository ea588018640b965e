package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

import graft.operators.Fill
import graft.query.InfluxQL

/** The one-pass fill spine against a dense fill computed on the driver,
  * over seeded random aggregated frames: null and empty tags, an empty
  * input, buckets outside the spine, null values inside existing buckets,
  * every fill mode, and the data-derived spine with its `now()` extension
  * and LIMIT fold in both directions. Then the plan shape the one pass
  * exists for: one read of the source and no join. */
class FillSpec extends SparkSpec {

  private val step = 10L

  /** An aggregated frame: (tags…, wstart_ms, v DOUBLE, n BIGINT) rows,
    * unique per (tags, wstart_ms). */
  private case class Agg(tags: Seq[String], rows: Seq[(Seq[String], Long,
    Option[Double], Option[Long])])

  private def gen(seed: Int, tags: Seq[String]): Agg = {
    val r = new scala.util.Random(seed)
    val tagValues = Seq("a", "b", "", null)
    val series =
      if (tags.isEmpty) Seq(Seq.empty[String])
      else Seq.fill(1 + r.nextInt(4))(tags.map(_ =>
        tagValues(r.nextInt(tagValues.size)))).distinct
    // buckets -3..12 against the static spine 0..9: some fall outside
    val rows =
      if (r.nextInt(6) == 0) Nil // empty input
      else series.flatMap { t =>
        (-3 to 12).filter(_ => r.nextInt(3) == 0).map { b =>
          (t, b * step,
            if (r.nextInt(5) == 0) None else Some(r.nextInt(100) / 4.0),
            if (r.nextInt(5) == 0) None else Some(r.nextInt(9).toLong))
        }
      }
    Agg(tags, rows)
  }

  private def frame(s: SparkSession, a: Agg): DataFrame = {
    val schema = StructType(a.tags.map(StructField(_, StringType)) ++ Seq(
      StructField("wstart_ms", LongType), StructField("v", DoubleType),
      StructField("n", LongType)))
    val rows = a.rows.map { case (t, w, v, n) =>
      Row.fromSeq(t ++ Seq(w, v.map(Double.box).orNull,
        n.map(Long.box).orNull)) }
    s.createDataFrame(rows.asJava, schema)
  }

  private type Out = (Seq[String], Long, Option[Double], Option[Long])

  /** The dense grid over `grid` for every series of `a`. */
  private def denseOracle(a: Agg, grid: Seq[Long]): Seq[Out] = {
    val at = a.rows.map(r => (r._1, r._2) -> r).toMap
    a.rows.map(_._1).distinct.flatMap { t =>
      grid.map(w => at.get((t, w)) match {
        case Some((_, _, v, n)) => (t, w, v, n)
        case None => (t, w, None, None)
      })
    }
  }

  private def autoGrid(a: Agg, hi: Option[Long], limit: Option[Long],
                       desc: Boolean): Seq[Long] =
    if (a.rows.isEmpty) Nil
    else {
      val lo0 = a.rows.map(_._2).min
      val hiData = (a.rows.map(_._2) ++ hi).max
      val hi1 = limit match {
        case Some(k) if !desc => math.min(hiData, lo0 + (k - 1) * step)
        case _ => hiData
      }
      val lo1 = limit match {
        case Some(k) if desc => math.max(lo0, hi1 - (k - 1) * step)
        case _ => lo0
      }
      lo1 to hi1 by step
    }

  private def bySeries(d: Seq[Out]): Seq[Seq[Out]] =
    d.groupBy(_._1).values.map(_.sortBy(_._2)).toSeq

  private def previous(d: Seq[Out]): Seq[Out] = bySeries(d).flatMap { s =>
    s.scanLeft(Option.empty[Out]) { (prev, o) =>
      Some((o._1, o._2, o._3.orElse(prev.flatMap(_._3)),
        o._4.orElse(prev.flatMap(_._4))))
    }.flatten
  }

  private def linear(d: Seq[Out]): Seq[Out] = bySeries(d).flatMap { s =>
    s.map { o =>
      val before = s.filter(p => p._2 <= o._2 && p._3.isDefined).lastOption
      val after = s.find(p => p._2 >= o._2 && p._3.isDefined)
      val v = o._3.orElse(for {
        p <- before; q <- after if q._2 != p._2
        pv <- p._3; qv <- q._3
      } yield pv + (qv - pv) * (o._2 - p._2) / (q._2 - p._2))
      (o._1, o._2, v, o._4)
    }
  }

  private def constant(d: Seq[Out], c: Double): Seq[Out] =
    d.map(o => (o._1, o._2, o._3.orElse(Some(c)),
      o._4.orElse(Some(c.toLong))))

  private def collected(df: DataFrame, tags: Seq[String],
                        linearOnly: Boolean = false): Seq[Out] =
    df.select((tags :+ "wstart_ms" :+ "v" :+ "n").map(df.col): _*)
      .collect().toSeq.map { r =>
        val k = tags.size
        (tags.indices.map(r.getString), r.getLong(k),
          Option(r.get(k + 1)).map(_.asInstanceOf[Double]),
          if (linearOnly) None
          else Option(r.get(k + 2)).map(_.asInstanceOf[Long]))
      }

  private def sameRows(got: Seq[Out], want: Seq[Out], what: String): Unit = {
    def key(o: Out) = (o._1.map(String.valueOf).mkString("|"), o._2)
    val g = got.sortBy(key); val w = want.sortBy(key)
    assert(g.map(o => (o._1, o._2, o._4)) == w.map(o => (o._1, o._2, o._4)),
      s"$what: got $g want $w")
    g.zip(w).foreach { case (x, y) =>
      assert(x._3.isDefined == y._3.isDefined &&
        x._3.zip(y._3).forall { case (p, q) => math.abs(p - q) < 1e-9 },
        s"$what: got $x want $y")
    }
  }

  test("one-pass spine equals a driver-side dense fill over random frames") {
    val sessions = Seq(spark, ExecProfile.session(spark, 0L),
      ExecProfile.statementSession(Seq(spark.range(1).toDF())).get)
    val static = 0L until 100L by step
    val vn = Seq("v", "n")
    for {
      seed <- 0 until 9
      tags <- Seq(Seq("t1"), Seq.empty[String], Seq("t1", "t2"))
    } {
      val a = gen(seed * 7 + tags.size, tags)
      val df = frame(sessions(seed % sessions.size), a)
      val what = s"seed $seed tags $tags (${a.rows.size} rows)"
      val dense = denseOracle(a, static)
      sameRows(collected(Fill.fillValue(df, vn, tags, 0L, 100L, step), tags),
        dense, s"$what fill(null)")
      sameRows(collected(Fill.fillValue(df, vn, tags, 0L, 100L, step,
        Some(-1.0)), tags), constant(dense, -1.0), s"$what fill(-1)")
      sameRows(collected(Fill.fillPrevious(df, vn, tags, 0L, 100L, step),
        tags), previous(dense), s"$what fill(previous)")
      sameRows(collected(Fill.fillLinear(df, "v", tags, 0L, 100L, step),
        tags, linearOnly = true),
        linear(dense).map(o => o.copy(_4 = None)), s"$what fill(linear)")
      for {
        hi <- Seq(None, Some(150L))
        (limit, desc) <- Seq((None, false), (Some(4L), false),
          (Some(4L), true))
      } {
        val grid = autoGrid(a, hi, limit, desc)
        val d = denseOracle(a, grid)
        val how = s"$what auto hi=$hi limit=$limit desc=$desc"
        sameRows(collected(Fill.fillValueAuto(df, vn, tags, step,
          hiOverrideMs = hi, limitBuckets = limit, desc = desc), tags),
          d, s"$how fill(null)")
        sameRows(collected(Fill.fillValueAuto(df, vn, tags, step, Some(2.0),
          hiOverrideMs = hi, limitBuckets = limit, desc = desc), tags),
          constant(d, 2.0), s"$how fill(2)")
        if (!desc)
          sameRows(collected(Fill.fillPreviousAuto(df, vn, tags, step,
            hiOverrideMs = hi, limitBuckets = limit), tags),
            previous(d), s"$how fill(previous)")
        if (limit.isEmpty)
          sameRows(collected(Fill.fillLinearAuto(df, "v", tags, step,
            hiOverrideMs = hi), tags, linearOnly = true),
            linear(d).map(o => o.copy(_4 = None)), s"$how fill(linear)")
      }
    }
  }

  test("the spine's 1M-bucket backstop clamps a far now() extension") {
    val a = Agg(Seq("t1"), Seq((Seq("a"), 0L, Some(1.0), Some(1L))))
    val df = frame(spark, a)
    val out = Fill.fillValueAuto(df, Seq("v", "n"), Seq("t1"), step,
      hiOverrideMs = Some(step * 5000000L))
    assert(out.count() == 1000001L)
  }

  private def scans(p: SparkPlan): Int = p.collectLeaves().size
  private def joins(p: SparkPlan): Int =
    p.collect { case j: BaseJoinExec => j }.size

  test("a GROUP BY time(), tag fill statement reads its source once and " +
      "plans no join") {
    val ev = Tables.table(spark, sf, "events")
    val cat = Map("events" -> InfluxQL.Measurement(ev,
      tags = Seq("event_type")))
    val b = ev.agg(org.apache.spark.sql.functions.min("ts"),
      org.apache.spark.sql.functions.max("ts")).head()
    val (lo, hi) = (b.getTimestamp(0).toInstant, b.getTimestamp(1).toInstant)
    Seq(
      // static spine: WHERE time bounds
      s"SELECT count(value) FROM events WHERE time >= '$lo' AND " +
        s"time <= '$hi' GROUP BY time(1h), event_type fill(null)",
      s"SELECT mean(value) FROM events WHERE time >= '$lo' AND " +
        s"time <= '$hi' GROUP BY time(6h), event_type fill(previous)",
      // data-derived spine: WHERE without time bounds, with a LIMIT
      "SELECT max(value) FROM events WHERE value > 0 " +
        "GROUP BY time(1h), event_type fill(0) LIMIT 5",
      "SELECT sum(value) FROM events WHERE value > 0 " +
        "GROUP BY time(1h) fill(linear)"
    ).foreach { q =>
      val df = InfluxQL.execute(cat, q)
      val plan = df.queryExecution.executedPlan
      assert(scans(plan) == 1, s"$q\n$plan")
      assert(joins(plan) == 0, s"$q\n$plan")
      assert(df.collect().nonEmpty, q)
    }
  }
}
