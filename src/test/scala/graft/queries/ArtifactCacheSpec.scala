package graft.queries

import graft.{SparkEntry, SparkSpec}

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

class ArtifactCacheSpec extends SparkSpec {

  private def exists(dir: String): Boolean = Files.exists(Paths.get(dir))

  /** Rewrites every file of `table` with the same bytes and a later mtime —
    * a regenerated fixture at the same path. */
  private def rewrite(d: String, table: String): Unit = {
    val walk = Files.walk(Paths.get(d, s"$table.parquet"))
    try walk.filter(Files.isRegularFile(_)).forEach { (p: Path) =>
      val mtime = Files.getLastModifiedTime(p).toMillis
      Files.write(p, Files.readAllBytes(p))
      Files.setLastModifiedTime(p, FileTime.fromMillis(mtime + 2000))
    } finally walk.close()
  }

  test("a second call with the same signature reuses the dir without building") {
    withFixtureCopy { d =>
      var builds = 0
      def get(): String = ArtifactCache.dir(spark, "spec", d, "documents") { tmp =>
        builds += 1
        Files.writeString(Paths.get(tmp, "marker"), "built")
      }
      val first = get()
      assert(Paths.get(first).getFileName.toString.startsWith("graft_spec_"))
      assert(get() == first)
      assert(builds == 1)
      assert(Files.readString(Paths.get(first, "marker")) == "built")

      var trainings = 0
      def train(): Seq[Int] =
        ArtifactCache.value(spark, "specv", d, "documents") { trainings += 1; Seq(1, 2) }
      assert(train() == Seq(1, 2) && train() == Seq(1, 2))
      assert(trainings == 1)
    }
  }

  test("rewriting the signature table rebuilds and deletes the replaced dir") {
    withFixtureCopy { d =>
      var builds = 0
      def get(): String = ArtifactCache.dir(spark, "spec", d, "documents") { tmp =>
        builds += 1
        Files.writeString(Paths.get(tmp, "marker"), s"build $builds")
      }
      var trainings = 0
      def train(): Int =
        ArtifactCache.value(spark, "specv", d, "documents") { trainings += 1; trainings }
      val first = get()
      assert(train() == 1)
      // another table's rewrite leaves a documents-signed entry alone
      rewrite(d, "events")
      assert(get() == first && train() == 1)

      rewrite(d, "documents")
      val second = get()
      assert(second != first)
      assert(builds == 2)
      assert(!exists(first), "the replaced dir must be deleted")
      assert(Files.readString(Paths.get(second, "marker")) == "build 2")
      assert(train() == 2)
    }
  }

  test("a failed build leaves no dir behind and the next call builds again") {
    withFixtureCopy { d =>
      var failed: String = null
      intercept[IllegalStateException] {
        ArtifactCache.dir(spark, "spec", d, "documents") { tmp =>
          failed = tmp
          throw new IllegalStateException("build failed")
        }
      }
      assert(failed != null && !exists(failed))
      val dir = ArtifactCache.dir(spark, "spec", d, "documents")(_ => ())
      assert(dir != failed && exists(dir))
    }
  }

  test("exit cleanup deletes the dirs of every kind, the crawl kinds included") {
    withFixtureCopy { d =>
      // query construction builds the synthesized-HTML WARC dir ("warch")
      SparkEntry.queries("q144_html_extract")(spark, d)
      val warch = ArtifactCache.dir(spark, "warch", d, "documents") { _ =>
        fail("q144 should have built the warch dir")
      }
      val spec = ArtifactCache.dir(spark, "spec", d, "documents")(_ => ())
      assert(exists(warch) && exists(spec))

      ArtifactCache.clear()
      assert(!exists(warch) && !exists(spec))
      // cleared entries are forgotten, so the next call builds afresh
      var rebuilt = false
      val again = ArtifactCache.dir(spark, "spec", d, "documents")(_ => rebuilt = true)
      assert(rebuilt && exists(again))
    }
  }
}
