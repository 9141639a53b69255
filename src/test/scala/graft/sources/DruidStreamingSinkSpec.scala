package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.druid.{DruidCommitMessage, DruidStreamingWrite, SegMeta, WriteSpec}
import graft.write.SegmentWriter

/** Native streaming SINK (`writeStream.format("druid")`): epochs land
  * as segments via the batch commit path, and a replayed epoch commit
  * (recovery between sink-commit and checkpoint-commit) is dropped
  * whole by the per-epoch marker — exactly-once into the table.
  */
class DruidStreamingSinkSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private def writeBatch(dir: String, from: Int, until: Int, mode: String): Unit = {
    import spark.implicits._
    (from until until).map(i => (1700000000000L + i, i.toLong))
      .toDF("__time", "n").coalesce(1)
      .write.format("druid").mode(mode).save(dir)
  }

  private def pipe(src: String, checkpoint: String, dst: String): Unit = {
    val q = spark.readStream.format("druid").load(src)
      .writeStream.format("druid")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).start(dst)
    q.awaitTermination(60000)
  }

  test("druid-to-druid streaming pipe is exactly-once across restarts") {
    val src = Files.createTempDirectory("graft-ssink-src").toString + "/t"
    val ckpt = Files.createTempDirectory("graft-ssink-ckp").toString
    val dst = Files.createTempDirectory("graft-ssink-dst").toString + "/t"
    writeBatch(src, 0, 100, "overwrite")
    writeBatch(src, 100, 250, "append")

    pipe(src, ckpt, dst)
    val out = spark.read.format("druid").load(dst)
    assert(out.count() == 250)

    // two more source segments; a NEW query over the SAME checkpoint
    // must append only the delta to the sink table
    writeBatch(src, 250, 300, "append")
    pipe(src, ckpt, dst)
    val all = spark.read.format("druid").load(dst)
    assert(all.count() == 300)
    assert(all.select("n").distinct().count() == 300, "duplicated rows")
  }

  test("a replayed epoch commit is dropped whole") {
    val root = Files.createTempDirectory("graft-ssink-replay").toString + "/t"
    Files.createDirectories(Paths.get(root))
    val schema = StructType(Seq(StructField("__time", LongType)))
    val sink = new DruidStreamingWrite(root, schema,
      WriteSpec.from(CaseInsensitiveStringMap.empty()))

    def stage(tag: String): DruidCommitMessage = {
      // mirror the real writers' naming: the epoch token is a
      // standalone "-"-separated component
      val segDir = Paths.get(root, ".staging-stream-ep7", s"segment-0-$tag-ep7")
      SegmentWriter.write(segDir, Array(1000L, 2000L, 3000L), Nil)
      DruidCommitMessage(Seq(
        SegMeta(segDir.toString, 1000L, 3001L, 3, exactInterval = true)))
    }

    sink.commit(7L, Array(stage("a")))
    assert(spark.read.format("druid").load(root).count() == 3)

    // replay of epoch 7 (e.g. recovery re-runs the last batch): the
    // re-staged segments must be discarded, not appended
    sink.commit(7L, Array(stage("b")))
    assert(spark.read.format("druid").load(root).count() == 3,
      "replayed epoch duplicated rows")
    assert(!Files.exists(Paths.get(root, ".staging-stream-ep7")),
      "replayed staging dir not cleaned up")

    // a NEW epoch still lands
    val seg9 = Paths.get(root, ".staging-stream-ep9", "segment-c")
    SegmentWriter.write(seg9, Array(5000L), Nil)
    sink.commit(9L, Array(DruidCommitMessage(Seq(
      SegMeta(seg9.toString, 5000L, 5001L, 1, exactInterval = true)))))
    assert(spark.read.format("druid").load(root).count() == 4)

    // crash mid-commit: epoch 7's segments moved but its marker never
    // landed — the replay must purge the partial segments first, not
    // stack a second copy on top
    Files.delete(Paths.get(root, ".epochs", "7"))
    sink.commit(7L, Array(stage("replayed")))
    assert(spark.read.format("druid").load(root).count() == 4,
      "partially-committed epoch duplicated rows on replay")
  }
}
