package graft

import java.io.File
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.cachedLayout`: a layout cached per fixture fingerprint is
  * built in a private staging directory and published by one atomic
  * rename, so concurrent builders never share a half-written directory. */
class LayoutCacheSpec extends AnyFunSuite {

  private def tmp(): File = java.nio.file.Files.createTempDirectory("graft_layout_cache").toFile

  /** A build that writes two files with a pause between them, so two
    * concurrent builders overlap. */
  private def slowBuild(tag: String, started: CountDownLatch)(path: String): Unit = {
    val dir = new File(path)
    java.nio.file.Files.writeString(new File(dir, "part-0").toPath, tag)
    started.countDown()
    started.await(10, TimeUnit.SECONDS)
    Thread.sleep(200)
    java.nio.file.Files.writeString(new File(dir, "part-1").toPath, tag)
  }

  test("two concurrent builders of one fingerprint both return the same complete layout") {
    val root = tmp()
    val started = new CountDownLatch(2)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val fs = Seq("a", "b").map(tag => pool.submit(() =>
        SparkEntry.cachedLayout("graft_test_layout", "11_22", root)(slowBuild(tag, started))))
      val paths = fs.map(_.get(60, TimeUnit.SECONDS))
      assert(paths.distinct.size == 1, paths)
      val dir = new File(paths.head)
      assert(new File(dir, SparkEntry.LayoutComplete).exists())
      val parts = Seq("part-0", "part-1").map(n =>
        java.nio.file.Files.readString(new File(dir, n).toPath))
      assert(parts.distinct.size == 1, s"the layout mixes two builds: $parts")
      assert(root.list().toSeq == Seq("graft_test_layout_11_22"),
        s"staging copies left behind: ${root.list().toSeq}")
      // a later call is a hit: no build runs
      assert(SparkEntry.cachedLayout("graft_test_layout", "11_22", root)(_ =>
        fail("a complete layout must not rebuild")) == paths.head)
    } finally pool.shutdownNow()
  }

  test("a directory without the completion marker is rebuilt, and a failed build publishes nothing") {
    val root = tmp()
    val stale = new File(root, "graft_test_layout_1_2")
    assert(stale.mkdir())
    java.nio.file.Files.writeString(new File(stale, "half-written").toPath, "x")
    val path = SparkEntry.cachedLayout("graft_test_layout", "1_2", root) { p =>
      java.nio.file.Files.writeString(new File(p, "part-0").toPath, "new")
    }
    assert(new File(path, "part-0").exists() && !new File(path, "half-written").exists())
    intercept[IllegalStateException](SparkEntry.cachedLayout("graft_test_layout", "3_4", root)(
      _ => throw new IllegalStateException("build failed")))
    assert(!new File(root, "graft_test_layout_3_4").exists())
    assert(root.list().toSeq.sorted == Seq("graft_test_layout_1_2"), root.list().toSeq)
  }
}
