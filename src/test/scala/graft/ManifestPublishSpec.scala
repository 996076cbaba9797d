package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Formats

/** Formats' snapshot-manifest CAS publishes through the hard-link
  * commit (`Streams.linkOnce`): a reader racing the writers only ever
  * sees complete manifests, and a lost race leaves no tmp file. */
class ManifestPublishSpec extends AnyFunSuite {

  private def tmpFiles(dir: java.nio.file.Path): Seq[String] =
    Option(dir.toFile.listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.endsWith(".tmp"))

  private def withDir(body: java.nio.file.Path => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-manifest-cas")
    try body(dir)
    finally {
      Option(dir.toFile.listFiles()).toSeq.flatten.foreach(_.delete())
      dir.toFile.delete(): Unit
    }
  }

  test("concurrent publishers: every manifest a reader sees lists complete commits") {
    withDir { dir =>
      val path = dir.toString
      val writers = 4
      val commits = 25
      val perCommit = 400
      // one commit's file list: perCommit lines sharing a "w<w>c<c>/" prefix
      def files(w: Int, c: Int): Seq[String] =
        (0 until perCommit).map(i => f"w${w}c$c/part-$i%05d-" + "x" * 80 + ".parquet")
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      val seen = new java.util.concurrent.atomic.AtomicInteger(0)
      val torn = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val reader = new Thread(() =>
        while (!done.get()) {
          val v = Formats.currentManifestVersion(path)
          if (v > 0) {
            val lines = Formats.readManifestFiles(path, v)
            val groups = lines.groupBy(_.takeWhile(_ != '/')).values.map(_.size)
            if (lines.size != v * perCommit || groups.exists(_ != perCommit))
              torn.add(s"manifest-$v: ${lines.size} lines in ${groups.size} commits")
            seen.incrementAndGet()
          }
        })
      reader.start()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
      try {
        val published = (0 until writers).map(w =>
          pool.submit(new java.util.concurrent.Callable[Seq[Int]] {
            def call(): Seq[Int] = (0 until commits).map(c =>
              Formats.publishManifest(path, files(w, c), attempts = writers * commits))
          }))
        assert(published.flatMap(_.get()).sorted == (1 to writers * commits))
      } finally {
        pool.shutdown()
        done.set(true)
        reader.join()
      }
      assert(torn.isEmpty, torn.toArray.take(5).mkString("; "))
      assert(seen.get() > 0)
      assert(Formats.readManifestFiles(path, writers * commits).toSet ==
        (for (w <- 0 until writers; c <- 0 until commits) yield files(w, c)).flatten.toSet)
      assert(tmpFiles(dir).isEmpty)
    }
  }

  test("a lost CAS returns the current version and leaves no tmp file") {
    withDir { dir =>
      val path = dir.toString
      assert(Formats.tryPublishManifest(path, 0, Seq("a.parquet")) == Right(1))
      assert(Formats.tryPublishManifest(path, 0, Seq("b.parquet")) == Left(1))
      assert(Formats.readManifestFiles(path, 1) == Seq("a.parquet"))
      assert(tmpFiles(dir).isEmpty)
    }
  }
}
