package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The session memo registry's contract: one locked build per key,
  * no lock shared between keys, no entry from a failed build, and a
  * dir drop that releases exactly that dir's entries.
  */
class MemoSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private implicit val ec: ExecutionContext = ExecutionContext.global

  /** A memo dir no other suite uses. */
  private def freshDir(): String = s"memo-spec-${java.util.UUID.randomUUID()}"

  test("two threads on one key run one build") {
    val d = freshDir()
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val runs = (1 to 2).map { _ =>
      Future {
        start.await()
        Memo(d, "k") { builds.incrementAndGet(); Thread.sleep(300); 42 }
      }
    }
    start.countDown()
    assert(Await.result(Future.sequence(runs), 30.seconds) == Seq(42, 42))
    assert(builds.get == 1, s"${builds.get} builds of one key")
    Memo.invalidate(d)
  }

  test("a blocked build of key A does not block key B") {
    val d = freshDir()
    val inA = new CountDownLatch(1)
    val releaseA = new CountDownLatch(1)
    val a = Future(Memo(d, "a") { inA.countDown(); releaseA.await(30, TimeUnit.SECONDS); "A" })
    try {
      assert(inA.await(30, TimeUnit.SECONDS), "build A never started")
      val b = Future(Memo(d, "b")("B"))
      assert(Await.result(b, 10.seconds) == "B")
      assert(!a.isCompleted, "A finished before it was released")
    } finally releaseA.countDown()
    assert(Await.result(a, 30.seconds) == "A")
    Memo.invalidate(d)
  }

  test("a throwing build leaves no entry and the next call retries") {
    val d = freshDir()
    intercept[IllegalStateException](Memo[Int](d, "k")(throw new IllegalStateException("boom")))
    assert(Memo.entries(d).isEmpty)
    assert(Memo(d, "k")(7) == 7 && Memo.get[Int](d, "k").contains(7))
    var root: java.io.File = null
    intercept[IllegalStateException](Memo.tree(d, "t") { p =>
      root = new java.io.File(p).getParentFile
      throw new IllegalStateException("boom")
    })
    assert(root != null && !root.exists(), "a failed tree write left its files")
    assert(Memo.entries(d).map(_._1) == Seq("k"))
    Memo.invalidate(d)
  }

  test("invalidate(d) unpersists d's frames, deletes its temp trees and keeps other dirs' entries") {
    val (d, e) = (freshDir(), freshDir())
    // distinct plans: the cache manager shares one entry per plan
    def cached(n: Int) = { val df = spark.range(n).toDF("id").cache(); df.count(); df }
    val plain = Memo(d, "frame")(cached(101))
    val (nested, _) = Memo(d, "tuple", 3)((cached(102), 1L))
    val tree = Memo.tree(d, "tree") { p =>
      spark.range(10).write.parquet(p)
    }
    val root = new java.io.File(tree).getParentFile
    val other = Memo(e, "frame")(cached(103))
    assert(root.exists() && new java.io.File(tree).exists())
    assert(Memo.entries(d).map(_._1).toSet == Set("frame", "tuple", "tree"))
    Memo.invalidate(d)
    assert(Memo.entries(d).isEmpty)
    assert(plain.storageLevel == StorageLevel.NONE && nested.storageLevel == StorageLevel.NONE,
      "a dropped frame stayed cached")
    assert(!root.exists(), "the temp tree outlived its dir's drop")
    assert(Memo.entries(e).map(_._1) == Seq("frame"))
    assert(other.storageLevel != StorageLevel.NONE, "another dir's frame was released")
    Memo.invalidate(e)
    assert(other.storageLevel == StorageLevel.NONE)
  }

  test("no session memo outside graft.Memo: TrieMap appears in no other main source") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root (no ${root.getAbsolutePath})")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val offenders = files(root).filter(_.getName.endsWith(".scala"))
      .filterNot(_.getName == "Memo.scala")
      .filter(f => java.nio.file.Files.readString(f.toPath).contains("TrieMap"))
    assert(offenders.isEmpty,
      s"hand-rolled memo maps: ${offenders.mkString(", ")}; build them through graft.Memo")
  }
}
