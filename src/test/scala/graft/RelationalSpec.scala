package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.extensions", "graft.sql.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // untruncated explain metadata: plan fingerprints (BenchPlanHashSpec)
    // must not depend on WHERE a string got cut — see Bench.canonicalPlan
    .config("spark.sql.maxMetadataStringLength", "100000")
    .config("spark.sql.debug.maxToStringFields", "10000")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

/** Hands over the optimized input of each noop-sink write the session
  * runs: the plan `SparkEntry.timedWrite` (Bench's query step) executes.
  */
final class NoopWrites extends QueryExecutionListener {
  private val inputs = new LinkedBlockingQueue[LogicalPlan]()

  private def noopInput(qe: QueryExecution): Option[LogicalPlan] =
    Try(qe.optimizedPlan.collectFirst {
      case w: V2WriteCommand if (w.table match {
          case r: DataSourceV2Relation => r.table.name.contains("noop")
          case _ => false
        }) => w.query
    }).toOption.flatten

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    noopInput(qe).foreach(inputs.put)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()

  /** Run `write` and return the input of the noop write it ran. */
  def capture(write: => Unit): LogicalPlan = {
    inputs.clear()
    write
    Option(inputs.poll(60, TimeUnit.SECONDS))
      .getOrElse(throw new AssertionError("no noop write was seen"))
  }
}

/** A DSv2 scan that equals another by what it reads and pushed down. */
final case class DescribedScan(text: String, schema: StructType) extends Scan {
  override def readSchema(): StructType = schema
  override def description(): String = text
}

object DescribedScan {
  /** `plan` with every DSv2 scan described: each optimizer run builds
    * its own Scan instances and partition-transform functions, which
    * compare (and print) by identity.
    */
  def in(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
    case r: DataSourceV2ScanRelation =>
      val text = (s"${r.scan.description()} keyGrouped=${r.keyGroupedPartitioning} " +
        s"ordering=${r.ordering}").replaceAll("@[0-9a-f]+\\b", "@x")
      r.copy(scan = DescribedScan(text, r.scan.readSchema()),
        keyGroupedPartitioning = None, ordering = None)
  }
}

class RelationalSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = SparkTestSession.spark
  private lazy val writes = {
    val l = new NoopWrites
    spark.listenerManager.register(l)
    l
  }

  override def afterAll(): Unit = {
    spark.listenerManager.unregister(writes)
    super.afterAll()
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has matching oracle key or is explicitly rows-only") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs at sf0.001 and is non-empty") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      assert(df.count() >= 0)
      // Bench's query step runs the plan Verify writes: nothing of the
      // DataFrame's own optimized plan is pruned away under the write
      val timed = DescribedScan.in(writes.capture(SparkEntry.timedWrite(df)))
      val own = DescribedScan.in(df.queryExecution.optimizedPlan)
      assert(timed.sameResult(own), s"timed plan:\n$timed\nown plan:\n$own")
    }
  }
}
