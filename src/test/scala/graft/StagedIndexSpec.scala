package graft

import graft.operators.{StagedCache, StagedIndex, StagedParts}
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{CyclicBarrier, TimeUnit}
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** [[StagedIndex]]'s serve, rebuild and append-refresh rules over
  * plain files: no Spark job runs. */
class StagedIndexSpec extends SparkSpec {

  private def source(): Path = {
    val p = tempDir("graft-si-src").resolve("t.parquet")
    Files.write(p, "v1".getBytes)
    p
  }

  /** A rewrite whose mtime moves too, so the fingerprint changes even
    * inside one mtime granule. */
  private def rewrite(p: Path): Unit = {
    val m = Files.getLastModifiedTime(p).toMillis
    Files.write(p, "v2-rewritten".getBytes)
    Files.setLastModifiedTime(p, FileTime.fromMillis(m + 2000))
  }

  private def stagedDir(): String = tempDir("graft-si-dir").toString

  private def notBuilt[V]: V = fail("a valid entry must serve, not rebuild")

  test("a valid entry serves without a build") {
    val idx = new StagedIndex[String]("spec-hit", Seq(_))
    val src = source()
    val d = idx.get(src)(stagedDir())
    val b0 = StagedCache.buildCount
    assert(idx.get(src)(notBuilt) === d)
    assert(StagedCache.buildCount === b0)
    assert(idx.builds === 1)
  }

  test("params key separate entries of one source") {
    val idx = new StagedIndex[String]("spec-params", Seq(_))
    val src = source()
    val d3 = idx.get(src, 3)(stagedDir())
    val d5 = idx.get(src, 5)(stagedDir())
    assert(d3 !== d5)
    assert(idx.get(src, 3)(notBuilt) === d3)
    assert(idx.get(src, 5)(notBuilt) === d5)
  }

  test("a rewritten source rebuilds") {
    val idx = new StagedIndex[String]("spec-rewrite", Seq(_))
    val src = source()
    val d1 = idx.get(src)(stagedDir())
    rewrite(src)
    val d2 = idx.get(src)(stagedDir())
    assert(d2 !== d1)
    assert(idx.builds === 2)
    assert(idx.get(src)(notBuilt) === d2)
  }

  test("a deleted staged dir rebuilds") {
    val idx = new StagedIndex[String]("spec-purged", Seq(_))
    val src = source()
    val d1 = idx.get(src)(stagedDir())
    Files.delete(Paths.get(d1))
    val d2 = idx.get(src)(stagedDir())
    assert(d2 !== d1)
    assert(idx.builds === 2)
  }

  test("two racing gets build outside the lock and register one entry") {
    val idx = new StagedIndex[String]("spec-race", Seq(_))
    val src = source()
    // both builders are past the lookup before either registers
    val both = new CyclicBarrier(2)
    def racer(): Future[String] = Future(idx.get(src) {
      both.await(30, TimeUnit.SECONDS)
      stagedDir()
    })
    val got = Await.result(Future.sequence(Seq(racer(), racer())), 60.seconds)
    assert(idx.builds === 2)
    assert(got.distinct.size === 1, "racing gets served different entries")
    assert(idx.get(src)(notBuilt) === got.head)
  }

  // extend: base entry of 10 rows in one part dir

  private def extendable(name: String): (StagedIndex[StagedParts], Path,
      StagedParts) = {
    val idx = new StagedIndex[StagedParts](name, _.dirs)
    val src = source()
    val base = idx.get(src)(StagedParts(Seq(stagedDir()), Seq(stagedDir()), 10))
    (idx, src, base)
  }

  private def noStage(p: StagedParts): Option[String] =
    fail("this branch must not stage a delta")

  test("extend: a batch that reconciles appends exactly one dir") {
    val (idx, src, base) = extendable("spec-append")
    rewrite(src)
    val d = stagedDir()
    assert(idx.extend(src)(13, 3)(_ => Some(d)) === Some(d))
    assert(idx.get(src)(notBuilt) ===
      base.copy(parts = base.parts :+ d, rows = 13))
  }

  test("extend: a replay of the registered state keeps the entry") {
    val (idx, src, base) = extendable("spec-replay")
    assert(idx.extend(src)(10, 3)(noStage) === None)
    assert(idx.get(src)(notBuilt) === base)
  }

  test("extend: the same state with a changed row count clears") {
    val (idx, src, _) = extendable("spec-samestate")
    assert(idx.extend(src)(11, 1)(noStage) === None)
    idx.get(src)(StagedParts(Nil, Seq(stagedDir()), 11))
    assert(idx.builds === 2)
  }

  test("extend: a gap (registered + batch != corpus) clears") {
    val (idx, src, _) = extendable("spec-gap")
    rewrite(src)
    assert(idx.extend(src)(20, 3)(noStage) === None)
    // cleared: a batch that would now reconcile finds nothing to extend
    assert(idx.extend(src)(20, 10)(noStage) === None)
    idx.get(src)(StagedParts(Nil, Seq(stagedDir()), 20))
    assert(idx.builds === 2)
  }

  test("extend: purged staging clears") {
    val (idx, src, base) = extendable("spec-purge")
    val purged = Paths.get(base.parts.head)
    Files.delete(purged)
    assert(idx.extend(src)(10, 0)(noStage) === None)
    // restored dirs under an unchanged source would serve a kept entry
    Files.createDirectories(purged)
    idx.get(src)(StagedParts(Nil, Seq(stagedDir()), 10))
    assert(idx.builds === 2)
  }

  test("extend: a declined stage clears, and nothing registered is a no-op") {
    val (idx, src, _) = extendable("spec-decline")
    rewrite(src)
    assert(idx.extend(src)(13, 3)(_ => None) === None)
    assert(idx.extend(src)(13, 3)(noStage) === None)
    val fresh = new StagedIndex[StagedParts]("spec-empty", _.dirs)
    assert(fresh.extend(src)(13, 3)(noStage) === None)
    assert(fresh.builds === 0)
  }
}
