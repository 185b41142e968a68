package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Commit, PartitionedSnapshot, Streams}
import graft.streaming.Commit.ConcurrentWriteException

/** The shared version-publishing protocol ([[Commit]]) under interleaved
  * writers, for snapshots and partitioned tables (the index kind is pinned
  * in ScaleSpec): whoever loses throws [[ConcurrentWriteException]], and
  * readers see exactly the winner's version.
  */
class CommitSpec extends AnyFunSuite {
  lazy val spark = SparkTest.session
  import spark.implicits._

  private def fresh(tag: String) =
    s"${SparkTest.scratchRoot}/graft_commit_${tag}_${java.util.UUID.randomUUID().toString.take(8)}"

  /** Run `winner`, with `loser` interleaved inside its flip; the loser's
    * failure is caught there so the winner's flip completes.
    */
  private def loserInside(loser: => Any)(winner: => Any): ConcurrentWriteException = {
    var ex: ConcurrentWriteException = null
    Commit.interleaved { ex = intercept[ConcurrentWriteException](loser) }(winner)
    ex
  }

  private def latestPointer(dir: String) =
    scala.io.Source.fromFile(s"$dir/_LATEST").mkString.trim

  test("readSnapshot of a never-committed directory names the directory") {
    val out = fresh("nocommit")
    assert(Streams.latestVersion(spark, out).isEmpty)
    val ex = intercept[IllegalArgumentException](Streams.readSnapshot(spark, out))
    assert(ex.getMessage.contains(out))
  }

  test("commitSnapshot: a writer that commits inside the flip window wins") {
    val out = fresh("commit")
    def rows() = Streams.readSnapshot(spark, out).as[(Int, Long)].collect().toSet
    Streams.commitSnapshot(Seq((0, 1L)).toDF("bin", "n"), out, 0L)
    val ex = intercept[ConcurrentWriteException] {
      Commit.interleaved(
        Streams.commitSnapshot(Seq((0, 3L)).toDF("bin", "n"), out, 2L)) {
        Streams.commitSnapshot(Seq((0, 2L)).toDF("bin", "n"), out, 1L)
      }
    }
    assert(ex.getMessage.contains("concurrent writer") && ex.getMessage.contains("commitSnapshot"))
    assert(Streams.latestVersion(spark, out) == Some(2L))
    assert(rows() == Set((0, 3L)))
  }

  test("upsertSnapshot: an interleaved second writer loses either way") {
    val out = fresh("upsert")
    def rows() = Streams.readSnapshot(spark, out).as[(Long, Long)].collect().toSet
    Streams.upsertSnapshot(Seq((1L, 10L)).toDF("k", "n"), out, Seq("k"), retain = 5)
    // the second upsert derives the same next version: it loses its claim
    val ex = loserInside(
      Streams.upsertSnapshot(Seq((3L, 30L)).toDF("k", "n"), out, Seq("k"), retain = 5)) {
      Streams.upsertSnapshot(Seq((2L, 20L)).toDF("k", "n"), out, Seq("k"), retain = 5)
    }
    assert(ex.getMessage.contains("v_1"))
    assert(Streams.latestVersion(spark, out) == Some(1L))
    assert(rows() == Set((1L, 10L), (2L, 20L)))
    // a writer that publishes another version first fails the upsert's flip
    val fenced = intercept[ConcurrentWriteException] {
      Commit.interleaved(
        Streams.commitSnapshot(Seq((9L, 90L)).toDF("k", "n"), out, 7L, retain = 5)) {
        Streams.upsertSnapshot(Seq((4L, 40L)).toDF("k", "n"), out, Seq("k"), retain = 5)
      }
    }
    assert(fenced.getMessage.contains("concurrent writer") &&
      fenced.getMessage.contains("upsertSnapshot"))
    assert(Streams.latestVersion(spark, out) == Some(7L))
    assert(rows() == Set((9L, 90L)))
  }

  test("partitioned upsert: an interleaved second writer loses, the winner stays live") {
    val out = fresh("part")
    def rows() = PartitionedSnapshot.read(spark, out).select($"k", $"lang", $"n")
      .as[(Long, String, Long)].collect().toSet
    PartitionedSnapshot.upsert(
      Seq((1L, "en", 10L), (2L, "de", 20L)).toDF("k", "lang", "n"), out, Seq("k"), "lang")
    val ex = loserInside(PartitionedSnapshot.upsert(
        Seq((3L, "fr", 30L)).toDF("k", "lang", "n"), out, Seq("k"), "lang")) {
      PartitionedSnapshot.upsert(
        Seq((1L, "en", 11L)).toDF("k", "lang", "n"), out, Seq("k"), "lang")
    }
    assert(ex.getMessage.contains("d_1"))
    assert(latestPointer(out) == "m_1")
    assert(rows() == Set((1L, "en", 11L), (2L, "de", 20L)))
  }

  test("metadata-only commit: an interleaved second writer cannot replace the manifest") {
    val out = fresh("meta")
    PartitionedSnapshot.upsert(
      Seq((1L, "en", 10L), (2L, "de", 20L)).toDF("k", "lang", "n"), out, Seq("k"), "lang")
    val ex = loserInside(PartitionedSnapshot.addColumn(spark, out, "q", "double", "0.5")) {
      PartitionedSnapshot.dropPartitions(spark, out, Set("en"))
    }
    assert(ex.getMessage.contains("m_1.json"))
    assert(latestPointer(out) == "m_1")
    val got = PartitionedSnapshot.read(spark, out)
    assert(got.columns.toSeq == Seq("k", "n", "lang"))
    assert(got.select($"k").as[Long].collect().toSeq == Seq(2L))
  }

  test("a pre-existing next manifest refuses the commit and survives it") {
    val out = fresh("premanifest")
    PartitionedSnapshot.upsert(
      Seq((1L, "en", 10L), (2L, "de", 20L)).toDF("k", "lang", "n"), out, Seq("k"), "lang")
    val planted = new java.io.File(s"$out/m_1.json")
    java.nio.file.Files.writeString(planted.toPath, "version=1\n0\tfr")
    intercept[ConcurrentWriteException] {
      PartitionedSnapshot.dropPartitions(spark, out, Set("en"))
    }
    assert(latestPointer(out) == "m_0")
    assert(java.nio.file.Files.readString(planted.toPath) == "version=1\n0\tfr")
    // a crashed commit's manifest is vacuum's to sweep once past the grace
    // window; the commit then goes through
    assert(planted.setLastModified(System.currentTimeMillis() - 60 * 1000))
    PartitionedSnapshot.vacuum(spark, out, graceMs = 1000L)
    assert(!planted.exists())
    assert(PartitionedSnapshot.dropPartitions(spark, out, Set("en")) == 1L)
    assert(latestPointer(out) == "m_1")
  }
}
