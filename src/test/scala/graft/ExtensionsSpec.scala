package graft

import graft.functions.ConeContainsFn
import graft.plans.{ConeJoin, ConeJoinRewrite, RectJoin, SkyCells}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

/** The one cone-join rewrite: `ConeJoinRewrite` turns a declarative
  * cone_contains/rect_contains theta join into the sky-cell equi-join
  * — identical results, no nested-loop join — whether applied
  * directly (`cellJoin`, what `bandJoin` uses) or installed as an
  * optimizer rule by GraftExtensions. */
class ExtensionsSpec extends SparkSpec {

  private def cellJoin(q: DataFrame): DataFrame =
    ConeJoinRewrite.cellJoin(q, SkyCells.DefaultCellDeg)

  private def catalog(s: SparkSession): DataFrame =
    s.range(20000).select(
      col("id").as("object_id"),
      ((col("id") * 7919) % 36000).cast("double").divide(100.0).as("ra"),
      (((col("id") * 104729) % 17000).cast("double") / 100.0 - 85.0).as("dec"))

  private def samples(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((0L, 1.0, 0.0, 3.0), (1L, 359.5, 10.0, 2.0), (2L, 180.0, -80.0, 5.0),
      (3L, 90.0, 45.0, 1.0), (4L, 270.0, 80.0, 4.0))
      .toDF("sample_id", "s_ra", "s_dec", "radius_deg")
  }

  private def coneQuery(s: SparkSession): DataFrame =
    catalog(s).join(samples(s), ConeContainsFn.coneContains(
      col("ra"), col("dec"), col("s_ra"), col("s_dec"), col("radius_deg")))

  private def key(df: DataFrame): Set[(Long, Long)] =
    df.select(col("sample_id"), col("object_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("rule rewrites the cone theta join to a band equi-join with identical results") {
    val q = coneQuery(spark)
    val naivePlan = q.queryExecution.executedPlan.toString
    assert(naivePlan.contains("BroadcastNestedLoopJoin"), naivePlan)
    val baseline = key(q)
    assert(baseline.nonEmpty)

    val rewritten = cellJoin(q)
    val plan = rewritten.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("graft_band"), plan)
    assert(key(rewritten) === baseline)
    assert(rewritten.columns.toSeq === q.columns.toSeq)
  }

  test("rule leaves non-cone joins and equi-joins untouched") {
    val equi = catalog(spark).as("a")
      .join(samples(spark), col("object_id") === col("sample_id"))
    assert(cellJoin(equi).queryExecution.analyzed
      .sameResult(equi.queryExecution.analyzed))
  }

  test("rule rewrites a rect_contains theta join to a band equi-join with identical results") {
    import spark.implicits._
    val rectSamples = Seq(
      (0L, 1.0, 0.0, 6.0, 3.0), (1L, 359.5, 10.0, 4.0, 2.0),
      (2L, 180.0, -80.0, 10.0, 5.0), (3L, 90.0, 45.0, 2.0, 1.0))
      .toDF("sample_id", "s_ra", "s_dec", "width_deg", "height_deg")
    val q = catalog(spark).join(rectSamples, ConeContainsFn.rectContains(
      col("ra"), col("dec"), col("s_ra"), col("s_dec"),
      col("width_deg"), col("height_deg")))
    val baseline = key(q)
    assert(baseline.nonEmpty)
    assert(q.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    val rewritten = cellJoin(q)
    assert(!rewritten.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    assert(key(rewritten) === baseline)
  }

  test("rule handles the sample table on the LEFT side") {
    val q = samples(spark).join(catalog(spark), ConeContainsFn.coneContains(
      col("ra"), col("dec"), col("s_ra"), col("s_dec"), col("radius_deg")))
    val rewritten = cellJoin(q)
    assert(!rewritten.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    assert(key(rewritten) === key(q))
    assert(rewritten.columns.toSeq === q.columns.toSeq)
  }

  test("rule does NOT fire on a cone predicate under OR (band restriction would drop rows)") {
    val cone = ConeContainsFn.coneContains(
      col("ra"), col("dec"), col("s_ra"), col("s_dec"), col("radius_deg"))
    val disjunctive = catalog(spark).join(samples(spark),
      cone || col("object_id") % 1000 === col("sample_id"))
    val analyzed = disjunctive.queryExecution.analyzed
    assert(cellJoin(disjunctive).queryExecution.analyzed.sameResult(analyzed))
    // but cone AND extra-conjunct still rewrites (the residual keeps
    // the extra predicate)
    val conjunctive = catalog(spark).join(samples(spark),
      cone && col("object_id") % 2 === 0)
    val rewritten = cellJoin(conjunctive)
    assert(!rewritten.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
    assert(key(rewritten) === key(conjunctive))
  }

  /** `f` over a session that shares the test context but has
    * GraftExtensions installed. withExtensions is the programmatic form
    * of spark.sql.extensions=graft.GraftExtensions (the config-string
    * route applies the same class, but only when the SparkContext
    * itself is created with it — the tests share one context). */
  private def withExtensions(f: SparkSession => Unit): Unit = {
    val prev = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try f(SparkSession.builder()
        .master("local[4]")
        .appName("graft-ext-test")
        .config("spark.sql.shuffle.partitions", "4")
        .withExtensions(new graft.GraftExtensions())
        .config("spark.ui.enabled", "false")
        .getOrCreate())
    finally {
      prev.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }

  test("GraftExtensions installs the rewrite session-wide") {
    withExtensions { ext =>
      val q = coneQuery(ext)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
      assert(plan.contains("graft_band"), plan)
      // identical rows to the un-extended session's nested-loop answer
      assert(key(q) === key(coneQuery(spark)))
    }
  }

  /** Samples with a literal size, so the rule sizes cells from it. */
  private def literalSamples(s: SparkSession, size: Column*): DataFrame =
    s.range(60).select(col("id").as("sample_id"),
      ((col("id") * 61) % 360).cast("double").as("ra"),
      ((col("id") * 37) % 170 - 85).cast("double").as("dec")).select(
      (col("*") +: size): _*)

  /** The optimized join of `df`, pruned to the (sample, object) pairs. */
  private def optimizedJoin(df: DataFrame): Join =
    df.select("sample_id", "object_id").queryExecution.optimizedPlan
      .collectFirst { case j: Join => j }.get

  test("bandJoin without the extensions ≡ cone_contains/rect_contains with them: same cell join, same rows") {
    val (r, w, h) = (2.0, 3.0, 1.5)
    val cone = (s: SparkSession) => literalSamples(s, lit(r).as("radius_deg"))
    val rect = (s: SparkSession) =>
      literalSamples(s, lit(w).as("width_deg"), lit(h).as("height_deg"))
    def prep(df: DataFrame) = df.select(df.columns.toSeq.map {
      case "ra" => col("ra").as("s_ra")
      case "dec" => col("dec").as("s_dec")
      case c => col(c)
    }: _*)
    // the hand entry points, cells sized as the rule sizes them
    val coneBand = ConeJoin.bandJoin(catalog(spark), cone(spark), SkyCells.cellDeg(r))
    val rectBand = RectJoin.bandJoin(catalog(spark), rect(spark),
      SkyCells.cellDeg(math.hypot(w, h) / 2))
    withExtensions { ext =>
      val coneDecl = catalog(ext).join(prep(cone(ext)), ConeContainsFn.coneContains(
        col("ra"), col("dec"), col("s_ra"), col("s_dec"), col("radius_deg")))
      val rectDecl = catalog(ext).join(prep(rect(ext)), ConeContainsFn.rectContains(
        col("ra"), col("dec"), col("s_ra"), col("s_dec"),
        col("width_deg"), col("height_deg")))
      for ((band, decl) <- Seq(coneBand -> coneDecl, rectBand -> rectDecl)) {
        val (a, b) = (optimizedJoin(band), optimizedJoin(decl))
        assert(a.sameResult(b), s"$a\n---\n$b")
        assert(a.condition.exists(_.references.exists(_.name == SkyCells.KeyName)), a)
        val rows = key(band)
        assert(rows.nonEmpty)
        assert(key(decl) === rows)
      }
    }
  }
}
