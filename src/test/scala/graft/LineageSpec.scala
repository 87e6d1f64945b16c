package graft

/** The fault-tolerance knob on the engine's lineage cuts (VERDICT r16
  * #7): `Lineage.cut` defaults to eager `localCheckpoint` (fast,
  * non-replicated — executor loss on a cluster fails the job), and
  * `spark.graft.checkpoint.reliable=true` switches every cut —
  * NN-Descent rounds, connected-component rounds — to reliable
  * `checkpoint()` (blocks re-readable from the checkpoint dir). The
  * knob must (a) produce identical results and (b) actually write
  * reliable checkpoint data.
  */
class LineageSpec extends SparkSuite {
  import spark.implicits._

  private def componentsOf(): Seq[(Long, Long)] = {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (12L, 12L))
      .toDF("src", "dst")
    graft.operators.ConnectedComponents.cluster(edges)
      .orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  test("reliable-checkpoint path: identical results, real checkpoint files") {
    val viaLocal = componentsOf()
    spark.conf.set("spark.graft.checkpoint.reliable", "true")
    try {
      val viaReliable = componentsOf()
      assert(viaReliable == viaLocal,
        "reliable checkpoint path changed connected-component labels")
      // the cut must have gone through RDD checkpointing: a dir is set
      // and holds rdd-* checkpoint data
      val dir = spark.sparkContext.getCheckpointDir
      assert(dir.isDefined, "reliable cut did not set a checkpoint dir")
      val files = new java.io.File(new java.net.URI(dir.get).getPath).listFiles()
      assert(files != null && files.nonEmpty,
        s"checkpoint dir ${dir.get} holds no checkpoint data")
      // and a direct cut is reliably checkpointed (not just locally)
      val cut = graft.operators.Lineage.cut(Seq(1, 2, 3).toDF("x"))
      assert(cut.rdd.toDebugString.contains("ReliableCheckpointRDD"),
        "Lineage.cut under the knob is not a reliable checkpoint:\n" +
          cut.rdd.toDebugString)
    } finally spark.conf.set("spark.graft.checkpoint.reliable", "false")
  }
}
