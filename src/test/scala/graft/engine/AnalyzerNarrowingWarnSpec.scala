package graft.engine

import graft.SparkSuite
import graft.dsl._
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Under a narrowing filter, a circuit-level frame (no `simulation_id`)
  * is served unnarrowed with a WARN. The WARN is logged once per frame
  * and analyzer, not on every access.
  */
class AnalyzerNarrowingWarnSpec extends SparkSuite {

  private final class Capture
      extends AbstractAppender("graft-narrowing-capture", null, null, true, Property.EMPTY_ARRAY) {
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def append(e: LogEvent): Unit =
      if (e.getLevel == Level.WARN) warnings.add(e.getMessage.getFormattedMessage)
  }

  /** The WARN messages `graft.engine.Analyzer` logs while `body` runs. */
  private def warnings(body: => Unit): Seq[String] = {
    val logger = LogManager.getLogger(classOf[Analyzer]).asInstanceOf[CoreLogger]
    val level = logger.getLevel
    val cap = new Capture
    cap.start()
    logger.addAppender(cap)
    logger.setLevel(Level.WARN)
    try body
    finally {
      logger.removeAppender(cap)
      logger.setLevel(level)
      cap.stop()
    }
    cap.warnings.asScala.toSeq
  }

  test("reading neurons three times under a narrowing filter warns once") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-narrow-warn").toString
    try {
      for (i <- 0 until 2)
        (1 to 20).map(k => (k * 10.0, (k % 3).toLong))
          .toDF("time", "gid").write.parquet(s"$dir/sim$i")
      Seq(0L, 1L, 2L).toDF("gid").write.parquet(s"$dir/nodes")
      val campaign = Campaign("narrow", dir, Map.empty, (0 until 2).map { i =>
        Map[String, Any](
          "simulation_path" -> s"sim$i", "circuit_path" -> s"$dir/nodes", "ca" -> (1.0 + i))
      })
      val cfg = SingleAnalysisConfig(
        name = "s", reportType = "spikes",
        windows = Map("w" -> WindowSpec(bounds = (0.0, 1000.0))),
        neuronClasses = Map("all" -> NeuronClassSpec()),
        features = Seq.empty)
      val out = s"$dir/out"
      val broad = new Analyzer(spark, cfg, campaign, new ParquetAdapter, QTrue,
        Some(new CacheManager(spark, out)))
      broad.extractRepo()
      broad.cache.get.close()

      val narrow = new Analyzer(spark, cfg, campaign, new ParquetAdapter,
        QAnd("ca" -> QCond(QEq(1.0))), Some(new CacheManager(spark, out)))
      try {
        val got = warnings {
          for (_ <- 1 to 3) assert(narrow.neurons.count() === 3)
        }
        val onNeurons = got.filter(_.contains("'neurons'"))
        assert(onNeurons.size === 1, s"WARNs on 'neurons': $got")
        assert(onNeurons.head.contains("narrowing filter cannot be applied"))
      } finally narrow.cache.get.close()
    } finally MultiAnalyzer.deleteRecursively(new java.io.File(dir))
  }
}
