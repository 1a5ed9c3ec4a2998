package graft

import graft.engine._
import org.apache.spark.sql.SparkSession

/** CLI (reference surface: `blueetl run | validate-config | migrate`,
  * src/blueetl/apps/{run,migrate}.py, plus the convert-spikes tool):
  *
  *   runMain graft.Main run <analysis.yaml> [--adapter=events|sonata|bluepy]
  *       [--population=<pop>]                extract + features; sonata =
  *                                           native .h5 campaigns, bluepy =
  *                                           legacy BlueConfig campaigns
  *   runMain graft.Main validate-config <yaml>     parse + summarize
  *   runMain graft.Main migrate <old> <new> [--no-sort]  v1-v3 → v4 config
  *   runMain graft.Main convert-spikes <csv> <out> [--bare]
  *       CSV → runnable campaign scaffold (parquet + SONATA .h5)
  */
object Main {
  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: cfgPath :: rest =>
      val spark = session()
      val population = rest.collectFirst {
        case a if a.startsWith("--population=") => a.stripPrefix("--population=")
      }
      val adapter: DataAdapter =
        if (rest.contains("--adapter=events")) new EventsAdapter
        else if (rest.contains("--adapter=sonata")) new SonataAdapter(population)
        else if (rest.contains("--adapter=bluepy")) new BlueConfigAdapter()
        else new ParquetAdapter
      val ma = MultiAnalyzer.fromFile(spark, cfgPath, adapter)
      try {
        ma.extractRepo()
        ma.analyzers.foreach { case (name, an) =>
          an.repo.validateWindows()
          println(s"[$name] extracted:")
          Repository.Names.foreach(n => println(f"  $n%-15s ${an.df(n).count()}%10d rows"))
          val feats = an.calculateFeatures()
          feats.foreach { case (fn, df) =>
            println(f"  feature $fn%-20s ${df.count()}%10d rows")
          }
        }
      } finally { ma.close(); spark.stop() }

    case "validate-config" :: cfgPath :: Nil =>
      // structural pass first: every unknown key / wrong type / missing
      // required field reported at once (reference: validation.py:24-47)
      val violations = Validation.validateAnalysis(ConfigIO.loadMap(cfgPath))
      if (violations.nonEmpty) {
        System.err.println("invalid configuration:")
        violations.zipWithIndex.foreach { case (v, i) =>
          System.err.println(s"  ${i + 1}: $v")
        }
        sys.exit(1)
      }
      val cfg = ConfigIO.loadAnalysis(cfgPath)
      println(s"campaign: ${cfg.campaignPath}")
      println(s"output:   ${cfg.output}")
      cfg.analyses.foreach { a =>
        println(s"analysis ${a.name} (${a.reportType}): " +
          s"${a.windows.size} windows, ${a.windowRefs.size} window refs, " +
          s"${a.neuronClasses.size} classes, ${a.features.size} features")
        a.features.foreach(f => FeatureFns.resolve(f.function)) // resolvable?
      }
      MultiAnalyzer.resolveWindowRefs(cfg.analyses) // refs + cycles check
      println("config OK")

    case "migrate" :: in :: out :: rest =>
      // reference: blueetl migrate (apps/migrate.py) — rewrite a v1/v2/v3
      // config to the current v4 format, validate, dump
      val config = ConfigIO.loadMap(in)
      val version = config.get("version") match {
        case Some(n: Number) => n.intValue(); case _ => 1
      }
      val migrated = Migrate.migrate(config)
      if (version == Migrate.ConfigVersion)
        println(s"The config version $version doesn't need to be migrated.")
      val sorted =
        if (rest.contains("--no-sort")) migrated else Migrate.sortRootKeys(migrated)
      val violations = Validation.validateAnalysis(sorted)
      if (violations.nonEmpty) {
        System.err.println("migrated configuration is invalid:")
        violations.zipWithIndex.foreach { case (v, i) =>
          System.err.println(s"  ${i + 1}: $v")
        }
        sys.exit(1)
      }
      ConfigIO.dumpYaml(out, sorted)
      println(s"The converted configuration has been saved to $out.")

    case "convert-spikes" :: csv :: out :: rest =>
      // reference: `blueetl convert-spikes` (convert_spikes.py:232-320)
      // writes the WHOLE campaign scaffold; --bare keeps the parquet-only
      // table conversion
      val spark = session()
      try {
        val sep = rest.filterNot(_.startsWith("--")).headOption.getOrElse(" ")
        val stats =
          if (rest.contains("--bare")) Convert.convert(spark, csv, out, sep).collect()(0)
          else Convert.convertCampaign(spark, csv, out, sep = sep).collect()(0)
        println(s"wrote $out: rows=${stats.getLong(0)} ids=${stats.getLong(1)} " +
          s"time=[${stats.getDouble(4)}, ${stats.getDouble(5)}]")
      } finally spark.stop()

    case other =>
      System.err.println(s"usage: run <yaml> | validate-config <yaml> | migrate <old> <new> [--no-sort] | convert-spikes <csv> <out> [sep]; got: $other")
      sys.exit(2)
  }

  /** The one SparkSession every graft main runs on: `local[cpus]` with
    * as many shuffle partitions, UTC, no UI, WARN logs and the graft
    * functions registered. `cpus` is `SPARK_GRAFT_CPUS` when set, else
    * the JVM's available processors.
    */
  private[graft] def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(s)
    s
  }
}
