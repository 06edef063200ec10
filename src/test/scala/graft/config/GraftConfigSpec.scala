package graft.config

import org.scalatest.funsuite.AnyFunSuite

class GraftConfigSpec extends AnyFunSuite {

  test("partial overrides: only present keys change (config.py:165-199 semantics)") {
    val cfg = GraftConfig.fromMap(Map(
      "thresholds.high" -> "0.8",
      "lsh.bands" -> "32",
      "lsh.rows_per_band" -> "4"))
    assert(cfg.thresholds.high == 0.8)
    assert(cfg.thresholds.low == 0.35) // default retained
    assert(cfg.lsh.bands == 32 && cfg.lsh.rowsPerBand == 4)
    assert(cfg.scoring.date == 0.30)
    assert(cfg.lsh.ambiguousLow == 0.5) // default retained
    assert(GraftConfig.fromMap(Map("lsh.ambiguous_low" -> "0.6")).lsh.ambiguousLow == 0.6)
  }

  test("every known key is read: a non-default value changes the config hash") {
    // a key KnownKeys accepts but fromMap never reads would be ignored
    val value = Map("cluster.warc_date_criterion" -> "true",
      // keep bands × rows_per_band ≤ num_hashes (16 × 8 ≤ 128 by default)
      "lsh.num_hashes" -> "256", "lsh.bands" -> "8", "lsh.rows_per_band" -> "4")
      .withDefaultValue("7") // differs from every numeric default
    val base = GraftConfig.default.configHash
    val ignored = GraftConfig.KnownKeys.toSeq.sorted
      .filter(k => GraftConfig.fromMap(Map(k -> value(k))).configHash == base)
    assert(ignored.isEmpty, s"keys accepted but not read: $ignored")
  }

  test("properties-file round trip") {
    val f = java.nio.file.Files.createTempFile("graft", ".properties")
    java.nio.file.Files.write(f,
      "lsh.jaccard_threshold=0.7\nsimhash.max_hamming_distance=2\n".getBytes)
    val cfg = GraftConfig.fromPropertiesFile(f.toString)
    assert(cfg.lsh.jaccardThreshold == 0.7)
    assert(cfg.simhash.maxHammingDistance == 2)
  }

  test("config hash changes with any override and is stable otherwise") {
    val a = GraftConfig.default.configHash
    val b = GraftConfig.fromMap(
      Map("lsh.bands" -> "32", "lsh.rows_per_band" -> "4")).configHash
    assert(a != b)
    assert(a == GraftConfig().configHash)
  }

  test("table-backed overrides: DB-first, YAML fallback precedence (config.py:165-199)") {
    val spark = graft.SparkSpec.session
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cfg")
    // "YAML" layer (properties file): sets threshold 0.7 and bands 32
    val props = dir.resolve("matching.properties")
    java.nio.file.Files.write(props,
      "lsh.jaccard_threshold=0.7\nlsh.bands=32\nlsh.rows_per_band=4\n".getBytes)
    // "DB" layer (kv table): overrides threshold only
    val table = dir.resolve("config_overrides").toString
    Seq(("lsh.jaccard_threshold", "0.65")).toDF("key", "value")
      .write.mode("overwrite").parquet(table)

    val cfg = GraftConfig.load(spark, Some(table), Some(props.toString))
    assert(cfg.lsh.jaccardThreshold == 0.65) // table wins over properties
    assert(cfg.lsh.bands == 32) // properties win over defaults
    assert(cfg.thresholds.high == 0.75) // defaults retained

    // missing table → properties layer alone (the reference's fallback)
    val cfgNoTable = GraftConfig.load(spark, Some(dir.resolve("absent").toString),
      Some(props.toString))
    assert(cfgNoTable.lsh.jaccardThreshold == 0.7)
    // neither layer → pure defaults
    assert(GraftConfig.load(spark) == GraftConfig.default)
    // a re-run observes an updated table row (the reference reloads per run)
    Seq(("lsh.jaccard_threshold", "0.6")).toDF("key", "value")
      .write.mode("overwrite").parquet(table)
    assert(GraftConfig.load(spark, Some(table), Some(props.toString)).lsh.jaccardThreshold == 0.6)
  }

  test("title sections are overridable like every other section") {
    val cfg = GraftConfig.fromMap(Map(
      "title.primary_weight" -> "0.5",
      "cross_source_title.blend_upper" -> "0.9"))
    assert(cfg.title.primaryWeight == 0.5)
    assert(cfg.title.secondaryWeight == GraftConfig.default.title.secondaryWeight)
    assert(cfg.crossSourceTitle.blendUpper == 0.9)
  }

  test("lsh banding invariant fails fast at config build, not per-row at runtime") {
    val e = intercept[IllegalArgumentException](
      GraftConfig.fromMap(Map("lsh.bands" -> "32"))) // 32*8=256 > 128 hashes
    assert(e.getMessage.contains("num_hashes"))
    // consistent override passes
    val ok = GraftConfig.fromMap(Map("lsh.bands" -> "32", "lsh.rows_per_band" -> "4"))
    assert(ok.lsh.bands == 32 && ok.lsh.rowsPerBand == 4)
  }

  test("lsh.max_bucket_size below 1 fails fast at config build") {
    // a cap of 0 (or less) marks every bucket hot: candidates would
    // silently degrade to star pairs instead of failing
    for (bad <- Seq("0", "-3")) {
      val e = intercept[IllegalArgumentException](
        GraftConfig.fromMap(Map("lsh.max_bucket_size" -> bad)))
      assert(e.getMessage.contains("max_bucket_size"))
    }
    intercept[IllegalArgumentException](
      GraftConfig.default.copy(lsh = GraftConfig.default.lsh.copy(maxBucketSize = 0)))
    assert(GraftConfig.fromMap(Map("lsh.max_bucket_size" -> "1")).lsh.maxBucketSize == 1)
  }

  test("overlap.min_overlap_chars below 1 fails fast at config build") {
    // a bar of 0 (or less) is met by every ambiguous pair, text or not:
    // tier 2 would resolve them all to overlap_match
    for (bad <- Seq("0", "-1")) {
      val e = intercept[IllegalArgumentException](
        GraftConfig.fromMap(Map("overlap.min_overlap_chars" -> bad)))
      assert(e.getMessage.contains("min_overlap_chars"))
    }
    intercept[IllegalArgumentException](
      GraftConfig.default.copy(overlap = GraftConfig.default.overlap.copy(minOverlapChars = 0)))
    assert(GraftConfig.fromMap(Map("overlap.min_overlap_chars" -> "1")).overlap.minOverlapChars == 1)
  }

  test("cluster.max_member_list below 1 fails fast at config build") {
    // the member preview keeps the k smallest urls: k below 1 used to
    // load and then fail the run at the clusters stage
    for (bad <- Seq("0", "-1")) {
      val e = intercept[IllegalArgumentException](
        GraftConfig.fromMap(Map("cluster.max_member_list" -> bad)))
      assert(e.getMessage.contains("max_member_list"))
    }
    intercept[IllegalArgumentException](
      GraftConfig.default.copy(cluster = GraftConfig.default.cluster.copy(maxMemberList = 0)))
    assert(GraftConfig.fromMap(Map("cluster.max_member_list" -> "1")).cluster.maxMemberList == 1)
  }

  test("overlap.seed is rejected as an unknown key: fingerprint sampling takes no seed") {
    val e = intercept[IllegalArgumentException](
      GraftConfig.fromMap(Map("overlap.seed" -> "7")))
    assert(e.getMessage.contains("unknown config override key(s): overlap.seed"))
  }

  test("table overrides tolerate a NULL version cell (resolves as version 0)") {
    val spark = graft.SparkSpec.session
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cfg_nullv").toString + "/cfg"
    Seq(("thresholds.high", "0.9", Some(2L)), ("thresholds.high", "0.8", None))
      .toDF("key", "value", "version")
      .write.parquet(dir)
    val cfg = GraftConfig.fromTable(spark, dir)
    assert(cfg.thresholds.high == 0.9, "highest non-null version must win")
  }

  test("table overrides tolerate a NON-NUMERIC version cell (ANSI-safe try_cast)") {
    // Spark 4 runs ANSI mode by default: a plain cast("long") on "v-two"
    // would THROW at the config read and fail every pipeline run that loads
    // the table — try_cast resolves it as version 0 (lowest precedence)
    val spark = graft.SparkSpec.session
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cfg_badv").toString + "/cfg"
    Seq(("thresholds.high", "0.9", "2"), ("thresholds.high", "0.8", "v-two"))
      .toDF("key", "value", "version")
      .write.parquet(dir)
    val cfg = GraftConfig.fromTable(spark, dir)
    assert(cfg.thresholds.high == 0.9, "numeric version 2 must outrank the garbage cell")
  }
}
