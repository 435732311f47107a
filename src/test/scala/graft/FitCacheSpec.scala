package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.core.FitCache

/** The cache-key contract: same (input, params) hits, anything that
  * changes the DATA misses — most importantly a different source
  * directory with an identical query shape, the collision class the
  * round-8 review caught (the canonicalized leaf relation prints
  * without its file location). */
class FitCacheSpec extends SparkSpec {

  test("keys separate source dirs, filters, and params; identical inputs collide") {
    val a = spark.read.parquet(s"${sf("sf0.001")}/lineitem.parquet")
    val b = spark.read.parquet(s"${sf("sf0.01")}/lineitem.parquet")
    val p = "Params(8,5)"
    assert(FitCache.key(a, p) != FitCache.key(b, p),
      "identical query shapes over different dirs MUST not collide")
    assert(FitCache.key(a, p) != FitCache.key(a.filter(col("l_orderkey") > 10), p))
    assert(FitCache.key(a, p) != FitCache.key(a, "Params(4,3)"))
    // the collision that IS the point: an equivalent re-derivation hits
    val a2 = spark.read.parquet(s"${sf("sf0.001")}/lineitem.parquet")
    assert(FitCache.key(a, p) == FitCache.key(a2, p))
  }

  test("getOrFit fits once per key and reloads thereafter") {
    val df = spark.read.parquet(s"${sf("sf0.001")}/region.parquet")
    val fits = new AtomicInteger(0)
    def once(params: String): String =
      FitCache.getOrFit(df, params, "spec") {
        fits.incrementAndGet(); "model-payload"
      } { (m, path) =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
        java.nio.file.Files.writeString(java.nio.file.Paths.get(path, "m"), m)
      } { path =>
        java.nio.file.Files.readString(java.nio.file.Paths.get(path, "m"))
      }
    assert(once("p1") == "model-payload")
    assert(once("p1") == "model-payload")
    assert(fits.get() == 1, "second call must load, not refit")
    assert(once("p2") == "model-payload")
    assert(fits.get() == 2, "different params must refit")
  }

  test("a table rewritten in place under the same path changes the key") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = graft.core.TempPaths.registered(Files.createTempDirectory("graft_fitcache"))
    val f = dir.resolve("lineitem.parquet")
    Files.copy(Paths.get(s"${sf("sf0.001")}/lineitem.parquet"), f)
    def keyNow: String = FitCache.key(spark.read.parquet(f.toString), "Params(8,5)")
    val before = keyNow
    assert(keyNow == before, "an untouched file must keep its key")
    // same path, same schema (so the same plan string), other content
    Files.copy(Paths.get(s"${sf("sf0.01")}/lineitem.parquet"), f,
      StandardCopyOption.REPLACE_EXISTING)
    assert(keyNow != before, "a rewritten file MUST not hit the old fit")
  }
}
