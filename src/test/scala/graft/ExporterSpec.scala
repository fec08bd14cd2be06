package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** End-to-end exporter parity (cmd/cts_exporter/main.go): source →
  * transform → delivery with the C5 (pull-and-push) and C6 (batch/stream)
  * toggles. */
class ExporterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def trace(id: Int): String = {
    val t = 1700000000000L + id * 60000L
    s"""{"trace_id":"t$id","service_type":"ECS","trace_type":"ApiCall",
       |"resource_type":"server","trace_name":"op$id","resource_id":"r$id",
       |"resource_name":"vm-$id","time":$t,"trace_status":"normal",
       |"code":"200","user":"u$id","source_ip":"10.0.0.$id"}""".stripMargin.replace("\n", "")
  }

  private def fixtures(): Path = {
    val dir = Files.createTempDirectory("exporter-pages-")
    def page(marker: String, ids: Seq[Int], next: String): Unit =
      Files.write(dir.resolve(s"page-$marker.json"),
        s"""{"traces":[${ids.map(trace).mkString(",")}],"meta_data":{"count":${ids.size},"marker":"$next"}}"""
          .getBytes(StandardCharsets.UTF_8))
    page("000", Seq(0, 1, 2), "001")
    page("001", Seq(3, 4), "")
    dir
  }

  private def lines(out: String): Vector[String] =
    Files.list(java.nio.file.Paths.get(out)).iterator().asScala
      .filter(_.toString.endsWith(".ndjson"))
      .flatMap(p => Files.readAllLines(p).asScala).toVector

  test("batch exporter delivers every trace as a CloudEvent envelope") {
    val out = Files.createTempDirectory("exporter-out-").toString
    val d = Exporter.run(spark, Exporter.Config(fixtures().toString, out))
    assert(d === Some(graft.operators.CloudEventSink.Delivery(5, 0)))
    val ls = lines(out)
    assert(ls.size === 5)
    // envelope carries the derived type and subject (P1/P2 semantics)
    assert(ls.forall(_.contains(""""type":"ecs.apicall.server.op""")))
    assert(ls.forall(_.contains(""""subject":"vm-""")))
  }

  test("K_CE_OVERRIDES: extension overrides merge flat into envelopes") {
    val out = Files.createTempDirectory("exporter-out-").toString
    val d = Exporter.run(spark, Exporter.Config(fixtures().toString, out,
      overrides = Map("region" -> "eu-nl", "status" -> "audited",
                      "pipeline" -> "graft")))
    assert(d === Some(graft.operators.CloudEventSink.Delivery(5, 0)))
    val ls = lines(out)
    assert(ls.size === 5)
    // existing extension keys overwritten IN PLACE (adapter.go:249-261 sets
    // status/code/resourceid/region/domain/tenant as flat CE attributes and
    // SetExtension replaces them), new key added, untouched key kept
    assert(ls.forall(_.contains(""""region":"eu-nl"""")), "override wins over context value")
    assert(ls.forall(_.contains(""""status":"audited"""")), "base attribute overridable")
    assert(ls.forall(!_.contains(""""status":"normal"""")), "no second conflicting value")
    assert(ls.forall(_.contains(""""pipeline":"graft"""")), "new override key appears")
    assert(ls.forall(_.contains(""""tenant":"ten-0"""")), "non-overridden key survives")
    assert(ls.forall(!_.contains(""""extensions"""")),
      "extensions are flat on the envelope, matching the CE JSON format")
    assert(ls.forall(_.contains(""""resourceid":"r""")), "all six base attrs present")
  }

  test("pull-only toggle (C5) runs the pipeline without a delivery stage") {
    val out = Files.createTempDirectory("exporter-out-").toString
    val d = Exporter.run(spark,
      Exporter.Config(fixtures().toString, out, pushAndPull = false))
    assert(d === None)
    assert(lines(out).isEmpty)
  }

  test("overrides naming core CE attributes are rejected, not merged") {
    val out = Files.createTempDirectory("exporter-out-").toString
    val ex = intercept[IllegalArgumentException] {
      Exporter.run(spark, Exporter.Config(fixtures().toString, out,
        overrides = Map("id" -> "boom", "team" -> "data")))
    }
    assert(ex.getMessage.contains("core CE attributes"))
    assert(lines(out).isEmpty, "nothing may be delivered on a config error")
    // the FULL core set is guarded — specversion/datacontenttype/dataschema
    // /data are spec-reserved even though no frame column carries them, and
    // must be config errors rather than bogus top-level envelope fields
    Seq("specversion", "datacontenttype", "dataschema", "data").foreach { k =>
      val e = intercept[IllegalArgumentException] {
        Exporter.run(spark, Exporter.Config(fixtures().toString, out,
          overrides = Map(k -> "x")))
      }
      assert(e.getMessage.contains("core CE attributes"), s"'$k' must be reserved")
    }
    // non-[a-z0-9] extension names are config errors too: binary-mode HTTP
    // delivery carries attributes as ce-* headers, where "myKey" would be
    // case-folded in flight (diverging from the other transports) and
    // "my key" would fail per-event as a malformed header — both must die
    // at config time, identically across transports
    Seq("myKey", "my key", "k-1", "", "waytoolongforanattributename").foreach { k =>
      val e = intercept[IllegalArgumentException] {
        Exporter.run(spark, Exporter.Config(fixtures().toString, out,
          overrides = Map(k -> "x")))
      }
      assert(e.getMessage.contains("[a-z0-9]"), s"'$k' must be malformed")
    }
  }

  test("--overrides / GRAFT_CE_OVERRIDES drive the config path end-to-end") {
    // K_CE_OVERRIDES deployment parity (adapter.go:57-65): overrides enter
    // as a JSON object via CLI arg or env var, through the SAME parse main
    // uses, and land flat on every delivered envelope
    val out = Files.createTempDirectory("exporter-out-").toString
    val cfg = Exporter.parseArgs(Array(fixtures().toString, out,
      "--overrides", """{"region":"eu-nl","pipeline":"graft"}"""))
    assert(cfg.overrides === Map("region" -> "eu-nl", "pipeline" -> "graft"))
    val d = Exporter.run(spark, cfg)
    assert(d === Some(graft.operators.CloudEventSink.Delivery(5, 0)))
    val ls = lines(out)
    assert(ls.size === 5)
    assert(ls.forall(_.contains(""""region":"eu-nl"""")))
    assert(ls.forall(_.contains(""""pipeline":"graft"""")))
    // env fallback, and CLI-explicit beats ambient env
    val envCfg = Exporter.parseArgs(Array("p", "o"),
      env = Map("GRAFT_CE_OVERRIDES" -> """{"team":"data"}"""))
    assert(envCfg.overrides === Map("team" -> "data"))
    val bothCfg = Exporter.parseArgs(
      Array("p", "o", "--overrides", """{"a":"b"}"""),
      env = Map("GRAFT_CE_OVERRIDES" -> """{"team":"data"}"""))
    assert(bothCfg.overrides === Map("a" -> "b"))
    // non-object / non-string shapes are config errors (the reference's
    // json.Unmarshal into map[string]string fails the same way)
    intercept[IllegalArgumentException](Exporter.parseOverrides("""["x"]"""))
    intercept[IllegalArgumentException](Exporter.parseOverrides("""{"k":1}"""))
    // reserved core attributes are rejected through this path too
    val out2 = Files.createTempDirectory("exporter-out-").toString
    intercept[IllegalArgumentException] {
      Exporter.run(spark, Exporter.parseArgs(Array(fixtures().toString, out2,
        "--overrides", """{"specversion":"2.0"}""")))
    }
    assert(lines(out2).isEmpty)
  }

  test("parseArgs: fewer than two positional arguments is a usage error naming the missing one") {
    val none = intercept[IllegalArgumentException](Exporter.parseArgs(Array(), env = Map()))
    assert(none.getMessage.contains("missing <pagesDir>"), none.getMessage)
    val one = intercept[IllegalArgumentException](
      Exporter.parseArgs(Array("p", "--streams"), env = Map()))
    assert(one.getMessage.contains("missing <outDir>"), one.getMessage)
    assert(one.getMessage.contains("usage: Exporter"), one.getMessage)
    val three = intercept[IllegalArgumentException](
      Exporter.parseArgs(Array("p", "o", "x"), env = Map()))
    assert(three.getMessage.contains("unexpected argument x"), three.getMessage)
    // flags and their values are not positional, wherever they sit
    val cfg = Exporter.parseArgs(Array("--from", "5", "p", "--pull-only", "o"), env = Map())
    assert((cfg.pages, cfg.outDir, cfg.fromMinutes, cfg.pushAndPull) === (("p", "o", Some(5), false)))
  }

  test("parseArgs: a non-integer --from is a usage error naming the option") {
    val flag = intercept[IllegalArgumentException](
      Exporter.parseArgs(Array("p", "o", "--from", "abc"), env = Map()))
    assert(flag.getMessage.contains("--from must be an integer number of minutes, got 'abc'"),
      flag.getMessage)
    val envVar = intercept[IllegalArgumentException](
      Exporter.parseArgs(Array("p", "o"), env = Map("GRAFT_CTS_FROM" -> "1h")))
    assert(envVar.getMessage.contains("GRAFT_CTS_FROM"), envVar.getMessage)
    val unknown = intercept[IllegalArgumentException](
      Exporter.parseArgs(Array("p", "o", "--form", "5"), env = Map()))
    assert(unknown.getMessage.contains("unknown option --form"), unknown.getMessage)
  }

  test("streaming toggle (C6) delivers the same events through writeStream") {
    val out = Files.createTempDirectory("exporter-out-").toString
    Exporter.run(spark,
      Exporter.Config(fixtures().toString, out, streams = true))
    val ls = lines(out)
    assert(ls.size === 5)
    assert(ls.forall(_.startsWith("""{"id":"t""")))
  }

  test("streaming cycles leave no checkpoint dir behind") {
    def ckpts(): Set[String] =
      Files.list(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
        .iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("exporter-ckpt-")).toSet
    val before = ckpts()
    val out = Files.createTempDirectory("exporter-out-").toString
    assert(Exporter.run(spark, Exporter.Config(fixtures().toString, out, streams = true))
      === Some(graft.operators.CloudEventSink.Delivery(5, 0)))
    Exporter.run(spark,
      Exporter.Config(fixtures().toString, out, streams = true, pushAndPull = false))
    assert(ckpts() -- before === Set.empty)
  }
}
