package graft.queries

import graft.SparkSpec

/** Configuration invariance of the queries whose plans depend on what
  * the planner is told rather than on what they compute:
  *  - the connected-components family (q72, q112, q134, q139) labels
  *    through star contraction and joins the labels back with no
  *    broadcast hint, so the planner (static or AQE) alone picks every
  *    join and partition count;
  *  - every query that reads a `graft.ops.Stored` frame, which declares
  *    the hash partitioning and row count its storing job measured: a
  *    declaration that did not match where the rows are would join
  *    wrong rows without an error;
  *  - every query whose joins the planner now picks from sizes alone,
  *    with no broadcast hint: each setting below changes that choice.
  * Each query must give the same order-normalized rows under each
  * setting below as in the default session; `withConf` restores every
  * key in a `finally`.
  */
class CcInvarianceSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private val settings: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "1",
    "spark.sql.shuffle.partitions" -> "7",
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  private def normalized(q: graft.Q): Seq[String] =
    q.fn(spark, sf).collect().map(_.toSeq.mkString("\u0001")).toSeq.sorted

  Seq(TrainingOps.q72DupClusters, TrainingOps.q112ClusterSafeSplit,
      TrainingOps.q134SoftDedupWeights,
      LlmOps.q32NearDupPairs, LlmOps.q33MinhashLshDup,
      PipelineOps.q42SimhashHammingDup, PipelineOps.q43AnnHyperplaneLsh,
      AnalyticsOps.q49Sessionize, PipelineOps.q60AnnIvf,
      TrainingOps.q73RepetitionFilter, CurationOps.q87EmbedCellDedup,
      CurationOps.q89NeardupPrune, AnalyticsOps.q107GraphPagerank,
      ClusterOps.q117KmeansLloyd, ClusterOps.q119PqAdc, ClusterOps.q122IvfPq,
      CurationOps.q139MutualKnnClusters,
      TrainingOps.q69BigramLift, LlmOps.q94ContainmentDedup, AnalyticsOps.q97SketchProfile,
      CurationOps.q98IncrementalNovelty, PipelineOps.q106WinnowDup,
      TrainingOps.q115SubstringDup, TrainingOps.q116DupSpanLocalize,
      ClusterOps.q120SparseRetrieval, ClusterOps.q121HybridRrf, PipelineOps.q124BpeMerges,
      CurationOps.q125BigramLmScore, TrainingOps.q127SpanCutRewrite,
      PipelineOps.q128PerceptualDedup, PipelineOps.q132AudioNearDup,
      TrainingOps.q133BloomDecontam,
      CurationOps.q135DsirContrast, CurationOps.q136TemperatureMix, ClusterOps.q137Bm25TopK,
      PipelineOps.q138BpeApply, CurationOps.q140ClusterQuotaSample,
      CurationOps.q141QualityCalibrate, CurationOps.q143QualityRankFusion,
      CurationOps.q144SourceDatacard, CurationOps.q145QualityTrain,
      CurationOps.q146QualityApply,
      Relational.q05RegionRevenue, Relational.q07SemiJoin, Relational.q15WindowRank,
      AnalyticsOps.q54RangeJoin, AnalyticsOps.q75ColumnProfile,
      TrainingOps.q66Tfidf, TrainingOps.q71CmsHeavyHitters, TrainingOps.q77Decontaminate,
      TrainingOps.q78TokenPacking, TrainingOps.q101ChunkPacking,
      TrainingOps.q102ShuffledPacking,
      CurationOps.q84MixtureRebalance, CurationOps.q85VocabOov,
      CurationOps.q86LengthOutliers, CurationOps.q93MixtureApply,
      CurationOps.q103EpochUpsample, CurationOps.q118PpsSample,
      CurationOps.q126SemanticDecontam, PipelineOps.q108QuantizedAnn).foreach { q =>
    test(s"${q.name} rows are invariant under shuffle partitions, AQE and broadcast settings") {
      val base = normalized(q)
      assert(base.nonEmpty, s"${q.name}: empty result at sf0.001")
      settings.foreach { case (k, v) =>
        val got = withConf(k -> v)(normalized(q))
        assert(got === base, s"${q.name} changed under $k=$v")
      }
    }
  }
}
