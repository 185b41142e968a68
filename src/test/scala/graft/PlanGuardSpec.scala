package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, HigherOrderFunction, LambdaFunction}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** Mechanical guard against BOTH forms of the lambda-splice perf trap (r17
  * verdict ask #5 filter side; r18 verdict ask #3 projection side;
  * verify-skill "PERF TRAP" entry). The class has produced two multi-round
  * hidden costs, one per form:
  *
  * FILTER side (winnow, r15–r16, 5–10×): filter pushdown inlines producing
  * projections into predicates UNCONDITIONALLY and lambda trees get no CSE,
  * so a HOF whose lambda captures an outer column re-evaluates that
  * producer once per array element per predicate evaluation.
  *
  * PROJECTION side (scalar quantization, r15–r18, O(d²) per row): a lambda
  * body that itself computes a COLLECTION-SCALE value over an outer column
  * (`transform(v, x -> round(x*c/array_max(transform(v, abs))))`) pays that
  * O(d) producer once per element even with no filter involved — ~3.6 s of
  * flat hidden cost on q_embed_quantize for four rounds until the builder's
  * piece-timing probe found it (functions/VectorExprs.scala kernels are the
  * cure).
  *
  * Deliberately NOT flagged on the projection side (the benign shapes the
  * r18 SpliceAudit run catalogued): attribute-rooted O(1)-per-element
  * accessors — slice / substr / element_at / getItem / size — and lambdas
  * whose captured work is over SCALAR outer columns; neither scales with
  * the collection size. On the filter side: HOFs in predicates whose
  * lambdas capture nothing (they duplicate a per-ROW producer, which
  * codegen subexpression elimination absorbs, not a per-ELEMENT one).
  */
class PlanGuardSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = SparkTest.session
  private val dir = "/root/testdata/sf0.001"

  /** HOFs under a Filter condition in the optimized plan whose lambda body
    * references an outer attribute — the per-element producer re-evaluation
    * shape the optimizer cannot undo.
    */
  private def splicedHofs(plan: LogicalPlan): Seq[String] = {
    val out = Seq.newBuilder[String]
    plan.foreach {
      case f: Filter =>
        f.condition.foreach {
          case h: HigherOrderFunction =>
            val capturing = h.functions.exists {
              case LambdaFunction(body, _, _) =>
                body.exists(_.isInstanceOf[AttributeReference])
              case _ => false
            }
            if (capturing) out += s"${h.prettyName}(${h.sql.take(120)})"
          case _ => ()
        }
      case _ => ()
    }
    out.result()
  }

  /** a BOUNDED accessor over a collection: its output size does not scale
    * with the input collection (slice/substring with a LITERAL length,
    * element_at/getItem/size) — computing over its result is O(k), not
    * O(collection), so the walk below stops here. These are the benign
    * captured shapes the r18 SpliceAudit run catalogued (the paragraph
    * gates' `array_join(slice(tokens, k*12+1, 12), ' ')` fixed-size blocks).
    */
  private def isBoundedAccessor(e: Expression): Boolean = e.prettyName match {
    case "slice" | "substring" | "substr" =>
      e.children.lastOption.exists(_.foldable)
    case "element_at" | "size" | "cardinality" => true
    case _ => e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.GetArrayItem]
  }

  /** does the subtree reference an outer collection-typed attribute through
    * an UNSHIELDED path (no bounded accessor between)? Lambda variables are
    * NamedLambdaVariable, not AttributeReference, so iteration over the
    * lambda's own element never trips this.
    */
  private def refsBulkAttr(e: Expression): Boolean = e match {
    case a: AttributeReference =>
      a.dataType.isInstanceOf[ArrayType] || a.dataType == StringType
    case _ if isBoundedAccessor(e) => false
    case _ => e.children.exists(refsBulkAttr)
  }

  /** a node whose evaluation cost scales with its input collection's size —
    * nested HOFs and the whole-array builtins. The O(1)-per-element
    * accessors (slice/substr/element_at/getItem/size) are deliberately NOT
    * here: rooted at an attribute they are the benign captured shapes.
    */
  private def isBulkOp(e: Expression): Boolean = e match {
    case _: HigherOrderFunction => true
    case _ => e.prettyName match {
      case "array_max" | "array_min" | "array_sort" | "sort_array" |
           "array_distinct" | "array_join" | "array_position" |
           "array_contains" | "arrays_overlap" | "array_union" |
           "array_intersect" | "array_except" | "array_remove" |
           "array_compact" | "flatten" | "reverse" | "concat_ws" => true
      case _ => false
    }
  }

  /** Collection-scale producers over an outer column INSIDE a lambda body,
    * anywhere in the plan (projection or predicate): the O(elements ×
    * collection) shape of the quantization incident.
    */
  private def projectionSplices(plan: LogicalPlan): Seq[String] = {
    val out = Seq.newBuilder[String]
    plan.foreach { node =>
      node.expressions.foreach(_.foreach {
        case h: HigherOrderFunction =>
          h.functions.foreach {
            case LambdaFunction(body, _, _) =>
              val offenders = body.collect {
                case e if isBulkOp(e) && refsBulkAttr(e) => e
              }
              if (offenders.nonEmpty)
                out += s"${h.prettyName}: ${offenders.map(_.sql.take(90))
                  .distinct.take(3).mkString(" | ")}"
            case _ => ()
          }
        case _ => ()
      })
    }
    out.result()
  }

  /** every batch gate's optimized plan, constructed ONCE and scanned by
    * both detectors. Stream gates excluded: their returned frame is a
    * post-hoc memory-sink read (the stream already ran), and constructing
    * one executes the whole stream — their plan/state shapes are pinned by
    * StreamShapeSpec instead.
    */
  private lazy val gatePlans: Seq[(String, LogicalPlan)] = {
    val names = SparkEntry.queries.keys.filterNot(_.startsWith("q_stream_")).toSeq.sorted
    names.flatMap { name =>
      try Some(name -> SparkEntry.queries(name)(spark, dir).queryExecution.optimizedPlan)
      catch {
        // a gate whose CONSTRUCTION throws here is a correctness-gate
        // problem, not a plan-shape one — don't double-report it, but keep
        // the scanned floor honest below
        case e: Throwable =>
          info(s"skipped $name (construction threw: ${e.getClass.getSimpleName})")
          None
      }
    }
  }

  test("the detector fires on the r15-era HOF-in-pushed-predicate form") {
    // the exact trap shape WinnowExprs replaced: per-position fingerprints
    // via transform(sequence(...)) with the text producer captured in the
    // lambda, then a filter over the derived column — PushDownPredicates
    // substitutes the definition into the predicate. Built over parquet (a
    // literal LocalRelation would be constant-folded away entirely).
    val df = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("fps", transform(
        sequence(lit(1), length(col("text")) - 4),
        i => hash(col("text").substr(i, lit(5)))))
      .filter(size(filter(col("fps"), f => f % 7 === 0)) > 0)
      .select(col("doc_id"))
    assert(splicedHofs(df.queryExecution.optimizedPlan).nonEmpty,
      "control failed: the optimizer no longer splices the r15 form into " +
        "a predicate — re-validate the detector against the current optimizer")
  }

  test("the projection detector fires on the pre-r18 scalarCodes HOF form") {
    // the exact O(d²) shape VectorExprs.scalarCodes replaced: the
    // per-vector max carried INSIDE the per-element lambda. Over parquet so
    // nothing constant-folds.
    val v = col("embedding").cast("array<double>")
    val mx = array_max(transform(v, x => abs(x)))
    val df = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        transform(v, x => round(x * 127.0 / mx).cast("int")).as("q"))
    assert(projectionSplices(df.queryExecution.optimizedPlan).nonEmpty,
      "control failed: the projection-side detector no longer fires on the " +
        "r18 quantization form — re-validate against the current optimizer")
    // and the benign catalogued shape must NOT fire: slice over an outer
    // attribute inside a lambda is O(k) per element, the allowlisted form
    val benign = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(transform(sequence(lit(0), lit(3)),
        i => slice(col("embedding"), i + lit(1), lit(2))).as("w"))
    assert(projectionSplices(benign.queryExecution.optimizedPlan).isEmpty,
      "allowlist failed: slice-over-attribute flagged as a bulk producer")
  }

  test("no batch gate's optimized plan has a capturing HOF in a filter predicate") {
    val offenders = gatePlans.flatMap { case (name, plan) =>
      val hofs = splicedHofs(plan)
      if (hofs.nonEmpty) Some(s"$name: ${hofs.mkString("; ")}") else None
    }
    assert(gatePlans.size >= 250,
      s"only ${gatePlans.size} gate plans scanned — the guard lost most of its coverage")
    assert(offenders.isEmpty,
      s"capturing HOF spliced into a filter predicate (the r15 lambda-splice " +
        s"trap — use a codegen'd kernel or keep the filter reading a " +
        s"materialized attribute):\n  " + offenders.mkString("\n  "))
  }

  test("no batch gate's optimized plan computes a bulk producer inside a lambda") {
    val offenders = gatePlans.flatMap { case (name, plan) =>
      val hits = projectionSplices(plan)
      if (hits.nonEmpty) Some(s"$name: ${hits.mkString("; ")}") else None
    }
    assert(offenders.isEmpty,
      s"collection-scale producer inside a lambda body (the r18 " +
        s"quantization O(d²) trap — hoist the producer to its own projected " +
        s"column or use a codegen'd kernel):\n  " + offenders.mkString("\n  "))
  }

  test("an 8-filter x 8-action batch is one job per pass over one flag per predicate") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.execution.ProjectExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val cuts = (0 until 8).map(_ * 5 + 0.5)
    val group = s"plan-guard-fanout-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        if (s.properties.getProperty("spark.jobGroup.id") == group) { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    val plans = try SparkTest.executedPlans(spark) {
      val root = graft.tdf.TDF(spark.read.parquet(s"$dir/lineitem.parquet"))
        .Define("net", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      val results = cuts.zipWithIndex.flatMap { case (q, k) =>
        // two nodes per cut, from equal predicates built apart: one flag
        val (a, b) = (root.Filter(s"c$k", col("l_quantity") > q),
          root.Filter(s"c$k", col("l_quantity") > q))
        Seq(a.Count(), a.Sum("net"), a.Mean("net"), a.Min("net"), b.Max("net"),
          b.Histo("net", 50, 0.0, 100000.0), b.Histo("l_quantity", 10), b.Report())
      }
      spark.sparkContext.setJobGroup(group, "8x8 deref")
      try results.foreach(_.apply()) finally spark.sparkContext.clearJobGroup()
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(plans.size == 1, s"one pass expected, got ${plans.size}")
    for (p <- plans) {
      val bad = p.collect {
        case n @ (_: Exchange | _: BaseAggregateExec | _: AdaptiveSparkPlanExec) => n.nodeName
      }
      assert(bad.isEmpty, s"no exchange, aggregate or adaptive stage expected, got $bad:\n$p")
    }
    // the marker query of executedPlans arrived after every job start of the
    // deref on the same listener queue
    assert(jobs.get == 1, s"one job expected, got ${jobs.get}")
    val projected = plans.head.collect { case p: ProjectExec => p.projectList }.flatten
    for (q <- cuts) {
      val n = projected.map(_.collect { case Literal(v: Double, _) if v == q => v }.size).sum
      assert(n == 1, s"predicate l_quantity > $q projected $n times:\n${plans.head}")
    }
  }
}
