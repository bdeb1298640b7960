package graft
import graft.util.Json
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
import java.nio.file.{Files, Paths}

/** Normalized physical-plan fingerprints for every registered gate query —
  * the committed "is this still the plan you'd want at 100×" check
  * (round-15 verdict #3). One JSON object per query:
  *
  *   - `ops`: multiset of physical operator class names (exchanges, sorts,
  *     broadcast-vs-SMJ joins, aggregates — the spec-pin vocabulary), with
  *     every ShuffleExchange further keyed by its partitioning kind so a
  *     hash→range or hash→single flip is visible, and every join keyed by
  *     its join type so inner→outer drift is visible too.
  *   - `scans`: per file scan, the pushed-filter count, partition-filter
  *     count, and read-schema column count — a scan that silently loses
  *     its pushdown or starts reading all columns shows as a one-line diff.
  *
  * The fingerprint is the AQE initial plan (exchanges placed, no runtime
  * re-optimization — the deterministic planning-time shape; runtime AQE
  * changes depend on measured sizes and would make the artifact flaky).
  * Layout-materializing builders and streaming gates execute during
  * construction exactly as they do under Verify; their fingerprint is the
  * plan of the RETURNED DataFrame (for a sink read-back, honestly a scan).
  *
  * Usage: runMain graft.PlanDump <sfDir> <out.json>   (SPARK_GRAFT_ONLY
  * narrows the surface for local iteration). Diff two dumps with
  * tools/plan_diff.py; the closing gate commits PLANS_r{N}.json and diffs
  * against the previous round's, with intentional changes annotated. */
object PlanDump {

  /** Strip the AQE wrapper down to the initial (planning-time) physical
    * plan; before any execution currentPhysicalPlan IS the initial plan. */
  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  /** One normalized key per operator node. Class names lose the "Exec"
    * suffix; shuffles carry their partitioning kind, joins their type. */
  private[graft] def opKey(n: SparkPlan): String = {
    val base = n.getClass.getSimpleName.stripSuffix("Exec")
    n match {
      case s: ShuffleExchangeExec =>
        val part = s.outputPartitioning match {
          case _: HashPartitioning  => "hash"
          case _: RangePartitioning => "range"
          case SinglePartition      => "single"
          case p                    => p.getClass.getSimpleName
        }
        s"$base($part)"
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        s"$base(${j.joinType.toString.toLowerCase})"
      case _ => base
    }
  }

  /** (ops multiset, per-scan facts) for one plan, subquery trees included
    * (a DPP or scalar subquery losing ITS pushdown matters as much as the
    * main tree losing one). */
  private[graft] def signature(plan: SparkPlan): (Map[String, Int], Seq[Map[String, Any]]) = {
    val ops = scala.collection.mutable.Map.empty[String, Int]
    val scans = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    def walk(p: SparkPlan): Unit = {
      p.foreach { n =>
        val un = n match { case a: AdaptiveSparkPlanExec => unwrap(a); case x => x }
        if (!un.eq(n)) walk(un)
        else {
          ops(opKey(n)) = ops.getOrElse(opKey(n), 0) + 1
          n match {
            case s: FileSourceScanExec =>
              // count top-level entries of "[f1, f2(...)]" — commas inside
              // parens/brackets belong to one filter
              def topCount(src: String): Int = {
                val body = src.stripPrefix("[").stripSuffix("]").trim
                if (body.isEmpty) 0
                else {
                  var depth = 0; var c = 1
                  body.foreach {
                    case '(' | '[' => depth += 1
                    case ')' | ']' => depth -= 1
                    case ',' if depth == 0 => c += 1
                    case _ => ()
                  }
                  c
                }
              }
              scans += Map(
                "format" -> s.metadata.getOrElse("Format", "?"),
                "pushed" -> topCount(s.metadata.getOrElse("PushedFilters", "[]")),
                "partFilters" -> s.partitionFilters.size,
                "readCols" -> s.schema.size)
            case _ => ()
          }
          // expression-embedded subquery plans (DPP, scalar subqueries)
          n.expressions.foreach(_.foreach {
            case sq: org.apache.spark.sql.execution.ScalarSubquery => walk(sq.plan)
            case sq: org.apache.spark.sql.execution.InSubqueryExec => walk(sq.plan)
            case _ => ()
          })
        }
      }
    }
    walk(unwrap(plan))
    (ops.toMap,
      scans.sortBy(m => (m("format").toString, m("pushed").toString.toInt,
        m("readCols").toString.toInt)).toSeq)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outPath) = args
    val spark = Sessions.local()
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val entries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        val body = try {
          val df = fn(spark, sfDir)
          val (ops, scans) = signature(df.queryExecution.executedPlan)
          val opsJson = ops.toSeq.sorted
            .map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
          val scansJson = scans.map(m =>
            s"""{"format":${Json.str(m("format").toString)},"pushed":${m("pushed")},""" +
            s""""partFilters":${m("partFilters")},"readCols":${m("readCols")}}""")
            .mkString("[", ",", "]")
          s"""{"ops":$opsJson,"scans":$scansJson}"""
        } catch {
          case e: Throwable =>
            System.err.println(s"[plandump] $name failed: ${e.getMessage}")
            s"""{"err":${Json.str(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))}}"""
        } finally spark.catalog.clearCache()
        System.err.println(s"[plandump] $name done")
        s"${Json.str(name)}: $body"
      }
    Files.writeString(Paths.get(outPath),
      entries.mkString("{\n", ",\n", "\n}\n"))
    System.err.println(s"[plandump] wrote ${entries.size} fingerprints to $outPath")
    spark.stop()
  }
}
