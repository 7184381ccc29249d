package graft.sources

import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}

import graft.SparkSpec

/** The commit point under contention: committers released together
  * publish the SAME version through [[VersionedTable.commitAs]]. The
  * publish is an atomic create-if-absent, so every round has exactly
  * one winner, every loser throws, and the published manifest is the
  * winner's, byte for byte. */
class LakeCommitRaceSpec extends SparkSpec {

  private val Threads = 4
  private val Rounds = 16

  test("racing commitAs on one version: one winner per round, its " +
      "manifest intact") {
    withTempDir("graft_race") { root =>
      val dir = s"$root/t"
      VersionedTable.commit(spark, spark.range(0, 1).toDF("k"), dir)
      val pool = Executors.newFixedThreadPool(Threads)
      try (1 to Rounds).foreach { v =>
        // even rounds land a one-row file per committer (a write job
        // each before the publish); odd rounds are manifest-only, so
        // the publishes collide within microseconds
        val withData = v % 2 == 0
        val barrier = new CyclicBarrier(Threads)
        val attempts = (0 until Threads).map { t =>
          pool.submit(new Callable[Option[Int]] {
            override def call(): Option[Int] = {
              val df = spark.range(0, if (withData) 1 else 0)
                .selectExpr(s"${v * 100 + t}L AS k")
              barrier.await()
              try {
                VersionedTable.commitAs(spark, df, dir, v,
                  carryForward = false,
                  meta = Map("graft.race.owner" -> t.toString))
                Some(t)
              } catch { case _: IllegalStateException => None }
            }
          })
        }
        val winners = attempts.flatMap(_.get(120, TimeUnit.SECONDS))
        assert(winners.size === 1, s"version $v: winners $winners")
        val snap = VersionedTable.snapshotOf(spark, dir, v)
        assert(snap.meta.get("graft.race.owner") ===
          Some(winners.head.toString), s"version $v")
        val rows = VersionedTable.read(spark, dir, Some(v)).collect()
          .map(_.getLong(0)).toSeq
        assert(rows === (if (withData) Seq(v * 100L + winners.head)
          else Seq.empty), s"version $v")
      }
      finally pool.shutdown()
      // losers leave no temp file behind in the manifest dir
      assert(!new java.io.File(s"$dir/_manifest").list()
        .exists(_.contains(".tmp")))
    }
  }
}
