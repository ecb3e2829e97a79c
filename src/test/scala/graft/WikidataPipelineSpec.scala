package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.WikidataPipeline
import graft.sources.TeiCatalog

/** End-to-end reference pipeline: catalogue XML → matched ids →
  * enrichment → rewritten XML, against a small local entity catalog. */
class WikidataPipelineSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_pipe")
    java.nio.file.Files.writeString(d.resolve("CAT_9.xml"),
      """<TEI xmlns="http://www.tei-c.org/ns/1.0"><text><body><list>
        |<item xml:id="CAT_9_e1"><name>hugo victor</name>
        | <trait><p>N. 1802 M. 1885. Poète.</p></trait></item>
        |<item xml:id="CAT_9_e2"><name>unmatchable zzz</name>
        | <trait><p>N. 1900 M. 1950.</p></trait></item>
        |</list></body></text></TEI>""".stripMargin)
    d.toString
  }

  private lazy val catalog = Seq(
    ("Q535", "Hugo Victor"), ("Q7560", "Sand George"), ("Q502", "Balzac Honore"))
    .toDF("entity_id", "entity_name")

  private lazy val matched = WikidataPipeline.itemToId(spark, dir, catalog)

  test("itemToId finds the right entity with high certitude") {
    val hugo = matched.filter(col("xml_id") === "CAT_9_e1").head()
    assert(hugo.getAs[String]("wikidata_id") == "Q535")
    assert(hugo.getAs[Int]("distance") == 0)
    assert(hugo.getAs[Int]("certitude") == 3)
    assert(hugo.getAs[Int]("birth_year") == 1802)
  }

  test("unmatchable names keep null id or low certitude") {
    val z = matched.filter(col("xml_id") === "CAT_9_e2").head()
    assert(z.getAs[String]("wikidata_id") == null || z.getAs[Int]("distance") > 5)
  }

  test("enrich joins the attribute store per matched id") {
    val attrs = Seq(("Q535", "poet", "France")).toDF("wikidata_id", "occupation", "citizenship")
    val e = WikidataPipeline.enrich(matched, attrs).collect()
    assert(e.exists(r => r.getAs[String]("wikidata_id") == "Q535"
      && r.getAs[String]("occupation") == "poet"))
  }

  test("runResumable survives a mid-pipeline crash and resumes past completed stages") {
    import graft.operators.Restart
    import graft.sources.Materialize
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val attrs = Seq(("Q535", "poet", "France")).toDF("wikidata_id", "occupation", "citizenship")

    // first launch: stage 2's input throws mid-run (the kill) — stage 1
    // must have committed, stage 2 must not have
    val poisoned = attrs.withColumn("occupation",
      expr("raise_error('executor lost')").cast("string"))
    intercept[Exception] {
      Restart.runResumable(spark, dir, catalog, poisoned, ckpt)
    }
    assert(Materialize.committed(spark, ckpt, "matched").isDefined, "stage 1 committed before the crash")
    assert(Materialize.committed(spark, ckpt, "enriched").isEmpty, "crashed stage must not commit")

    // relaunch with healthy input: resumes at stage 2 off the
    // checkpointed stage-1 parquet and completes
    val (enriched, rewritten) = Restart.runResumable(spark, dir, catalog, attrs, ckpt)
    assert(enriched.collect().exists(r => r.getAs[String]("wikidata_id") == "Q535"
      && r.getAs[String]("occupation") == "poet"))
    assert(rewritten.head().getAs[String]("xml_ref").contains("""ref="wd:Q535""""))
    assert(Materialize.committed(spark, ckpt, "rewritten").isDefined)

    // third launch: everything committed — no stage rebuilds even with
    // a poisoned catalog (the builders are never invoked)
    val boom = catalog.withColumn("entity_name", expr("raise_error('rebuilt!')"))
    val (e2, _) = Restart.runResumable(spark, dir, boom, poisoned, ckpt)
    assert(e2.count() == enriched.count())
  }

  test("refInjectXml declares the wd: prefix in the header of rewritten files") {
    import spark.implicits._
    val cats = Seq(("fh",
      "<TEI><teiHeader><encodingDesc></encodingDesc></teiHeader>" +
        "<text><body><list><item><name>hugo victor</name></item></list></body></text></TEI>"))
      .toDF("path", "xml")
    val m = Seq(("h1", "hugo victor", "Q535", 3)).toDF("xml_id", "name", "wikidata_id", "certitude")
    val xml = WikidataPipeline.refInjectXml(cats, m).head().getAs[String]("xml_ref")
    assert(xml.contains("""<name ref="wd:Q535">hugo victor</name>"""))
    assert(xml.contains("""<listPrefixDef><prefixDef ident="wd""""))
    // the declaration lands inside the encodingDesc, once
    assert("listPrefixDef".r.findAllIn(xml).size == 2) // open + close tag
  }

  test("refInjectXml keeps a file intact when nothing matches") {
    import spark.implicits._
    val cats = Seq(("f0", "<TEI><text><body><list><item><name>nobody here</name></item></list></body></text></TEI>"))
      .toDF("path", "xml")
    val noMatches = Seq(("x1", "nobody here", null.asInstanceOf[String], 0))
      .toDF("xml_id", "name", "wikidata_id", "certitude")
    val out = WikidataPipeline.refInjectXml(cats, noMatches).head()
    assert(out.getAs[String]("xml_ref") != null)
    assert(out.getAs[String]("xml_ref").contains("<name>nobody here</name>"))
  }

  test("block misses get certitude 0, not null") {
    val z = matched.filter(col("xml_id") === "CAT_9_e2").head()
    assert(!z.isNullAt(z.fieldIndex("certitude")))
    assert(z.getAs[Int]("certitude") <= 1)
  }

  test("refInjectXml sets ref on the matched name element only") {
    val out = WikidataPipeline.refInjectXml(
      TeiCatalog.readCatalogues(spark, dir), matched).head()
    val xml = out.getAs[String]("xml_ref")
    assert(xml.contains("""<name ref="wd:Q535">hugo victor</name>"""))
    assert(!xml.contains("""ref="wd:Q535">unmatchable"""))
  }
}
