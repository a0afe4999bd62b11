package graft.config

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.testing.{TempDirs, TestSpark}

class YamlSpec extends AnyFunSuite {

  test("mis-indented orphan lines raise instead of silently vanishing") {
    intercept[ConfigFormatError] { Yaml.parse("a: 1\n    b: 2\nc: 3\n") }
  }

  test("parses nested maps, lists, scalars, comments, quotes") {
    val y =
      """# top comment
        |name: scenario1   # trailing comment
        |threshold: 0.75
        |retries: 3
        |active: true
        |missing: null
        |tables:
        |  - lineitem
        |  - orders
        |inline_list: [a, b, 3]
        |nested:
        |  inner:
        |    deep: "quoted value"
        |  flag: false
        |""".stripMargin
    val m = Yaml.parse(y).asInstanceOf[Map[String, Any]]
    assert(m("name") == "scenario1")
    assert(m("threshold") == 0.75)
    assert(m("retries") == 3)
    assert(m("active") == true)
    assert(m("missing") == null)
    assert(m("tables") == List("lineitem", "orders"))
    assert(m("inline_list") == List("a", "b", 3))
    val nested = m("nested").asInstanceOf[Map[String, Any]]
    assert(nested("inner").asInstanceOf[Map[String, Any]]("deep") == "quoted value")
    assert(nested("flag") == false)
  }
}

class ConfigSpec extends AnyFunSuite {

  private val yaml =
    """name: test
      |input_data:
      |  lineitem: data/lineitem.parquet
      |  orders: data/orders.parquet
      |options:
      |  level: 2
      |  mode: fast
      |groups:
      |  - g1
      |  - g2
      |""".stripMargin

  test("setAttrs with toUnpack promotes nested keys to top level") {
    val cfg = Config.fromString("test", yaml, toUnpack = Seq("options"))
    assert(cfg.get("level") == 2)
    assert(cfg.get("mode") == "fast")
    assert(cfg.getMap("options") == Map("level" -> 2, "mode" -> "fast"))
  }

  test("toUnpack on a non-mapping raises; non-mapping root raises ConfigFormatError") {
    intercept[IllegalArgumentException] {
      Config.fromString("test", yaml, toUnpack = Seq("name"))
    }
    intercept[ConfigFormatError] {
      Config.fromString("bad", "- a\n- b\n")
    }
  }

  test("extendAttr / removeFromAttr mutate sequence attributes") {
    val cfg = Config.fromString("test", yaml)
    cfg.extendAttr("groups", Seq("g3"))
    assert(cfg.getSeq("groups") == Seq("g1", "g2", "g3"))
    cfg.removeFromAttr("groups", Set("g1"))
    assert(cfg.getSeq("groups") == Seq("g2", "g3"))
    intercept[IllegalArgumentException] { cfg.extendAttr("name", Seq("x")) }
  }

  test("prependDir prefixes scalar and map-valued path attrs") {
    val cfg = Config.fromString("test", yaml)
    cfg.prependDir(Seq("input_data"), "/mnt/root")
    assert(cfg.getMap("input_data")("lineitem") == "/mnt/root/data/lineitem.parquet")
  }

  test("fillTupleKeys pads map keys to uniform depth") {
    val cfg = Config.fromString("t", "a: 1\n")
    cfg.update(Map("paths" -> Map(Seq("x") -> 1, Seq("y", "z") -> 2)))
    cfg.fillTupleKeys(Seq("paths"))
    assert(cfg.get("paths") == Map(Seq("x", "x") -> 1, Seq("y", "z") -> 2))
  }

  test("RunLog builds sortable run ids and creates the log dir") {
    val tmp = TempDirs("graft-logs")
    val fixed = java.time.ZonedDateTime.of(2026, 8, 12, 14, 30, 55, 0, java.time.ZoneOffset.UTC)
    val rl = new RunLog(Some(tmp), () => fixed)
    assert(rl.logId == "20260812_143055")
    val p = rl.ensure()
    assert(Files.exists(tmp) && p.getFileName.toString == "run_20260812_143055.log")
  }

  test("setLoggingConfig writes run-id'd log file through the wired handlers") {
    val tmp = TempDirs("graft-logwire")
    val fixed = java.time.ZonedDateTime.of(2026, 8, 12, 9, 0, 0, 0, java.time.ZoneOffset.UTC)
    val rl = new RunLog(Some(tmp), () => fixed)
    val root = java.util.logging.LogManager.getLogManager.getLogger("")
    val priorHandlers = root.getHandlers.toSeq
    val priorLevel = root.getLevel
    rl.setLoggingConfig(console = "basic", textLog = "debug",
      disableOtherLoggers = false)
    try {
      val lg = java.util.logging.Logger.getLogger("graft.test.runlog")
      lg.setLevel(java.util.logging.Level.FINE) // opt this logger into DEBUG
      lg.info("hello-from-runlog")
      lg.fine("debug-level-line")
      root.getHandlers.foreach(_.flush())
      val content = Files.readString(rl.logPath)
      assert(rl.logPath.getFileName.toString == "run_20260812_090000.log")
      assert(content.contains("hello-from-runlog"))
      assert(content.contains("debug-level-line"), "file handler must capture DEBUG")
      assert(content.contains("graft.test.runlog"), "debug formatter prefixes source")
      // replacement semantics: the run handlers are the ONLY root handlers
      assert(root.getHandlers.length == 2, "prior root handlers must be replaced")
    } finally {
      // fully restore root logger state so later tests are unaffected
      root.getHandlers.foreach { h => root.removeHandler(h); h.close() }
      priorHandlers.foreach(root.addHandler)
      root.setLevel(priorLevel)
    }
  }

  test("log4j2Properties renders both appenders on the run path") {
    val tmp = TempDirs("graft-log4j2")
    val rl = new RunLog(Some(tmp))
    val props = rl.log4j2Properties()
    assert(props.contains(s"appender.file.fileName = ${rl.logPath}"))
    assert(props.contains("appender.console.filter.threshold.level = info"))
    assert(props.contains("rootLogger.level = info"))
    val written = rl.writeLog4j2Properties()
    assert(Files.readString(written) == props)
    intercept[IllegalArgumentException] { rl.log4j2Properties(console = "nope") }
  }

  test("load() resolves from a directory on disk") {
    val dir = TempDirs("graft-config")
    Files.writeString(dir.resolve("scenario.yaml"), yaml)
    val cfg = Config.load("scenario", dirOverride = Some(dir))
    assert(cfg.get("name") == "test")
  }
}

class ValidationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("tableExists via public catalog; tableColumns lists columns") {
    spark.range(3).toDF("id").createOrReplaceTempView("probe_table")
    assert(spark.catalog.tableExists("probe_table"))
    assert(Validation.tableColumns(spark, "probe_table") == Seq("id"))
  }

  test("fileExists memoizes filesystem probes") {
    Validation.clearCache()
    val f = Files.createTempFile(TempDirs("graft-val"), "f", ".txt")
    assert(Validation.fileExists(spark, f.toString))
    assert(!Validation.fileExists(spark, f.toString + ".nope"))
  }

  test("fileExists cache is LRU-bounded at 32 entries") {
    Validation.clearCache()
    val f = Files.createTempFile(TempDirs("graft-lru"), "f", ".txt")
    assert(Validation.fileExists(spark, f.toString))
    assert(Validation.isCached(f.toString))
    // Probe 40 distinct (missing) paths: capacity is 32, so the earliest
    // entries — including f — must have been evicted.
    (0 until 40).foreach(i => Validation.fileExists(spark, s"$f.nope.$i"))
    assert(Validation.cachedPathCount == Validation.maxFileCacheEntries)
    assert(!Validation.isCached(f.toString), "oldest entry must be evicted")
    // Most recent probes survive.
    assert(Validation.isCached(s"$f.nope.39"))
  }

  test("validateInputFiles: active:false sections skipped; report formats") {
    val f = Files.createTempFile(TempDirs("graft-val"), "f", ".parquet")
    val cfg = Config.fromString("v",
      s"""input_data:
         |  web:
         |    active: false
         |    path: /definitely/missing.parquet
         |  scanner:
         |    path: $f
         |  bad:
         |    path: /also/missing.parquet
         |""".stripMargin)
    val errs = Validation.validateInputFiles(spark, cfg, "input_data")
    assert(errs.length == 1 && errs.head.contains("input_data.bad.path"))
    assert(Validation.report(Nil) == "")
    assert(Validation.report(errs).startsWith("Config validation failed:"))
  }

  test("requireKeys reports missing attributes") {
    val cfg = Config.fromString("v", "a: 1\n")
    assert(Validation.requireKeys(cfg, Seq("a", "b")) ==
      Seq("missing required config attribute: b"))
  }
}
