package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Session-extension entry point: registers graft's native functions and
  * the [[graft.plans.PackedKeySort]] and [[graft.plans.RunningWindow]]
  * query-stage preparation rules at session
  * build time (`spark.sql.extensions=graft.functions.GraftExtensions` or
  * `.withExtensions(new GraftExtensions)`, as `graft.Sessions.builder`
  * does). [[GraftFunctions.register]] installs the SAME function builder
  * list on an already-running session — one source of truth, two
  * registration paths. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.all.foreach(e.injectFunction)
    e.injectQueryStagePrepRule(_ => graft.plans.PackedKeySort)
    e.injectQueryStagePrepRule(_ => graft.plans.RunningWindow)
  }
}

object GraftExtensions {
  private def lit(e: Expression, what: String): Long = e match {
    case Literal(v: java.lang.Number, _) => v.longValue()
    case other =>
      throw new IllegalArgumentException(s"$what must be a literal, got $other")
  }

  private def entry(name: String, cls: Class[_])(
      builder: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    entry("char_fold", classOf[CharFold])(
      es => CharFold(es.head, lit(es(1), "char_fold seed"))),
    entry("minhash_sig", classOf[MinHashSig])(
      es => MinHashSig(es.head, lit(es(1), "minhash_sig k").toInt)),
    entry("shingle_set", classOf[ShingleSet])(
      es => ShingleSet(es.head, lit(es(1), "shingle_set n").toInt)),
    entry("jaccard_sim", classOf[JaccardSim])(
      es => JaccardSim(es.head, es(1))),
    entry("intersect_count", classOf[IntersectCount])(
      es => IntersectCount(es.head, es(1))),
    entry("dot_product", classOf[DotProduct])(
      es => DotProduct(es.head, es(1))),
    entry("text_features", classOf[TextFeatures])(
      es => TextFeatures(es.head)),
    entry("corpus_features", classOf[CorpusFeatures])(
      es => CorpusFeatures(es.head)),
    entry("simhash32", classOf[SimHash32])(
      es => SimHash32(es.head)),
    entry("nearest_centroid", classOf[NearestCentroid])(
      es => NearestCentroid(es.head, es(1), es(2))),
    entry("nearest_centroids", classOf[NearestCentroids])(
      es => NearestCentroids(es.head, es(1), es(2), es(3))),
    entry("int8_quantize", classOf[Int8Quantize])(
      es => Int8Quantize(es.head)),
    entry("int8_dot", classOf[Int8Dot])(
      es => Int8Dot(es.head, es(1))),
    entry("bpe_apply_bytes", classOf[BpeApply])(
      es => BpeApply(es.head, es(1), hexMode = true)),
    entry("bpe_apply_chars", classOf[BpeApply])(
      es => BpeApply(es.head, es(1), hexMode = false)),
    entry("bpe_doc_stats_bytes", classOf[BpeDocStats])(
      es => BpeDocStats(es.head, es(1), hexMode = true)),
    entry("bpe_doc_stats_chars", classOf[BpeDocStats])(
      es => BpeDocStats(es.head, es(1), hexMode = false)),
    entry("ascii_word_histogram", classOf[TokenHistogram])(
      es => TokenHistogram(es.head, asciiWordMode = true)),
    entry("space_token_histogram", classOf[TokenHistogram])(
      es => TokenHistogram(es.head, asciiWordMode = false)))
}
