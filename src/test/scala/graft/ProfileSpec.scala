package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Profile

/** The gate profiler: its job-description buckets, and one cheap gate
  * profiled in-process under Bench's protocol. */
class ProfileSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("bucket: per-batch and per-tx ids and long numbers normalise away") {
    import Profile.bucket
    assert(bucket("graft-lsh-12 probe") == bucket("graft-lsh-3 probe"))
    assert(bucket("graft-lsh-12 probe") == "graft-lsh probe")
    assert(bucket("graft-tx-7 fold") == bucket("graft-tx-19 fold"))
    assert(bucket("graft-tx-7 fold") != bucket("graft-lsh-7 fold"))
    assert(bucket("scan 1234567 rows") == "scan <n> rows")
    assert(bucket("scan 12345 rows") == "scan 12345 rows")
    // a streaming batch's description: query id, run id and batch number
    def batch(n: Int, run: String) =
      s"\nid = 1f2e3d4c-0000-4000-8000-000000000001\nrunId = $run\nbatch = $n"
    assert(bucket(batch(0, "aa11-bb22")) == bucket(batch(7, "cc33-dd44")))
    assert(bucket(batch(0, "aa11-bb22")) == "id = <id> runId = <id> batch = <n>")
  }

  private lazy val explainDir = Files.createTempDirectory("profile-explain")
  private lazy val q1 = Profile.profile(spark, Seq("q1"), dir, Some(explainDir.toString)) match {
    case Seq(("q1", Right(p))) => p
    case other => fail(s"unexpected profile: $other")
  }

  test("a gate profiled in-process: its rows, jobs and tasks") {
    assert(q1.best.rows == SparkEntry.queries("q1")(spark, dir).count())
    assert(q1.best.jobs >= 1)
    assert(q1.best.tasks >= q1.best.jobs)
    assert(q1.best.buckets.map(_._2).sum == q1.best.jobs)
    assert(Profile.lines(q1).head.startsWith("q1 "))
  }

  test("a broadcast join's jobs bucket under their SQL execution, not the async call site") {
    val q3 = Profile.profile(spark, Seq("q3"), dir, None) match {
      case Seq(("q3", Right(p))) => p
      case other => fail(s"unexpected profile: $other")
    }
    val keys = q3.best.buckets.map(_._1)
    assert(keys.nonEmpty && !keys.exists(_.contains("withThreadLocalCaptured")), keys)
  }

  test("--explain writes the gate's formatted physical plan") {
    assert(Files.readString(explainDir.resolve("q1.txt")).contains("Physical Plan"))
  }
}
