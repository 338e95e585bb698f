package graft

import graft.pipeline._

/** Cache hygiene: a long-lived session running the pipeline repeatedly must
  * not accumulate cacheManager entries (round-3 advice — `surfacePairs`
  * leaked one cached Dataset per invocation). `Pipeline.run` caches only
  * mentions, surfaces and backptrs (read by clustering's fetch and by the
  * caller's commit), all released by `Result.unpersist()`; everything else
  * is eager localCheckpoint (freed by the ContextCleaner, never in the
  * cacheManager). */
class CacheSpec extends SparkSuite {
  import graft.fixtures.ErFixture._

  test("back-to-back Pipeline.run + unpersist leaves no cached plans behind") {
    val transcripts = transcriptsDF(spark, generate(entities = 5, convs = 10, seed = 7L))
    spark.sharedState.cacheManager.clearCache()
    (1 to 2).foreach { _ =>
      val r = Pipeline.run(spark, transcripts, Pipeline.Config(mentionGenerator = "identifier"))
      r.clusters.count()
      r.unpersist()
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "cacheManager must be empty after Result.unpersist() — a growing entry set here is a leak")
  }
}
