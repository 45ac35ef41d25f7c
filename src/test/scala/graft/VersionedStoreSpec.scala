package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.streaming.{QueueStreaming, VersionedStore}

/** The `batch=N` store layout behind the state-keeping streams: what
  * counts as a committed version, the snapshot-chain replay rule, and
  * the reads that must never follow a write still in flight. */
class VersionedStoreSpec extends SparkSpec {
  import spark.implicits._

  private def newStore(name: String): String =
    Files.createTempDirectory(name).toString + "/s"

  private def values(df: DataFrame): Seq[Long] =
    df.as[Long].collect().toSeq.sorted

  /** A version directory as a crashed or running write leaves it:
    * task output under `_temporary`, no `_SUCCESS`. */
  private def inFlight(store: String, id: Long): Unit = {
    val tmp = Paths.get(store, s"batch=$id", "_temporary", "0")
    Files.createDirectories(tmp)
    Files.write(tmp.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
  }

  test("a version is committed by Spark's _SUCCESS marker") {
    val store = newStore("vs_success")
    VersionedStore.write(Seq(1L, 2L).toDF("v"), store, 0L)
    assert(Files.exists(Paths.get(store, "batch=0", "_SUCCESS")),
      "Spark's default committer must mark the version committed")
    assert(VersionedStore.versions(spark, store).map(_._1) == Seq(0L))
    assert(VersionedStore.versions(spark, store + "_missing").isEmpty)
    // with the marker off a version would be invisible: the write
    // fails instead of letting a later fold start over from nothing
    val noMarker = spark.newSession()
    noMarker.conf.set("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    val err = intercept[IllegalStateException] {
      VersionedStore.write(noMarker.range(2).toDF("v"), store, 1L)
    }
    assert(err.getMessage.contains("_SUCCESS"), err.getMessage)
  }

  test("advance: a replayed batch reads the version below its own id again") {
    val store = newStore("vs_replay")
    val seen = scala.collection.mutable.Buffer.empty[Option[Seq[Long]]]
    def step(id: Long, delta: Long): Unit =
      VersionedStore.advance(spark, store, id, compactEvery = 0) { prior =>
        seen += prior.map(values)
        prior.fold(Seq(delta).toDF("v"))(_.union(Seq(delta).toDF("v")))
      }
    step(0L, 10L)
    step(1L, 20L)
    step(1L, 20L) // at-least-once replay of batch 1
    assert(seen == Seq(None, Some(Seq(10L)), Some(Seq(10L))),
      s"priors seen per step: $seen")
    assert(values(VersionedStore.latest(spark, store)) == Seq(10L, 20L),
      "the replay must not fold batch 1 twice")
  }

  test("a version holding only _temporary is invisible to advance, latest and deltas") {
    val store = newStore("vs_temporary")
    VersionedStore.write(Seq(7L).toDF("v"), store, 0L)
    inFlight(store, 1L)
    assert(VersionedStore.versions(spark, store).map(_._1) == Seq(0L))
    var prior: Option[Seq[Long]] = None
    VersionedStore.advance(spark, store, 2L, compactEvery = 0) { p =>
      prior = p.map(values)
      p.get
    }
    assert(prior == Some(Seq(7L)), s"advance must read version 0, got $prior")
    assert(values(VersionedStore.latest(spark, store)) == Seq(7L))
    assert(VersionedStore.deltas(spark, store, 1L, inclusive = true).map(values) ==
      Some(Seq(7L)))
  }

  test("deltas below batch 0 are None, not an empty read that throws") {
    val store = newStore("vs_deltas")
    assert(VersionedStore.deltas(spark, store, 0L, inclusive = false).isEmpty)
    VersionedStore.write(Seq(3L).toDF("v"), store, 0L)
    assert(VersionedStore.deltas(spark, store, 0L, inclusive = false).isEmpty)
    assert(VersionedStore.deltas(spark, store, 0L, inclusive = true).map(values) ==
      Some(Seq(3L)))
  }

  test("a committed empty version reads as an empty frame") {
    val store = newStore("vs_empty")
    VersionedStore.write(Seq(5L).toDF("v"), store, 0L)
    VersionedStore.write(Seq.empty[Long].toDF("v"), store, 1L)
    assert(VersionedStore.versions(spark, store).map(_._1) == Seq(0L, 1L))
    assert(values(VersionedStore.latest(spark, store)).isEmpty)
  }

  test("store readers raise the named error on a missing or uncommitted store") {
    val store = newStore("vs_missing")
    val missing = intercept[IllegalStateException] {
      QueueStreaming.aucFromStore(spark, store)
    }
    assert(missing.getMessage.contains("does not exist yet"), missing.getMessage)
    inFlight(store, 0L)
    val uncommitted = intercept[IllegalStateException] {
      QueueStreaming.aucFromStore(spark, store)
    }
    assert(uncommitted.getMessage.contains("no committed version"),
      uncommitted.getMessage)
  }

  test("compactSessionStore(keep = 1) keeps the newest committed version") {
    val store = newStore("vs_compact")
    VersionedStore.write(Seq(1L).toDF("v"), store, 0L)
    VersionedStore.write(Seq(2L).toDF("v"), store, 1L)
    inFlight(store, 2L)
    assert(QueueStreaming.compactSessionStore(spark, store, keep = 1) == 1)
    assert(values(QueueStreaming.latestSessionFrames(spark, store)) == Seq(2L),
      "the newest committed version survives")
    assert(Files.exists(Paths.get(store, "batch=2", "_temporary")),
      "a write in flight is not a version and is left alone")
    assert(!Files.exists(Paths.get(store, "batch=0")))
  }
}
