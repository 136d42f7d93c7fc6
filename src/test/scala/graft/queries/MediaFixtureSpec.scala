package graft.queries

import graft.SparkSpec

/** The image and video fixtures repartition their id scan before the codec
  * leg. `graft.Explain` cannot show it: the repartition sits below the
  * callers' `localCheckpoint`, so their plans start at `Scan ExistingRDD`. */
class MediaFixtureSpec extends SparkSpec {

  test("image and video fixtures hand their codec leg defaultParallelism partitions from a 1-partition scan") {
    val p = spark.sparkContext.defaultParallelism
    assert(p > 1, s"a 1-core session cannot show the repartition: $p")
    val docs = spark.range(0, 40, 1, 1).toDF("doc_id")
    assert(docs.rdd.getNumPartitions === 1)
    for ((name, fixture) <- Seq("image" -> PipelineQueries.imageFixture _,
                                "video" -> PipelineQueries.videoFixture _)) {
      val media = fixture(docs)
      assert(media.rdd.getNumPartitions === p, name)
      assert(media.select("media_id").distinct().count() === 40L, name)
    }
  }
}
