package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.NameFunctions
import graft.sources.{Tables, TeiCatalog}

/** End-to-end composition of the reference pipeline (main.py:1 runs
  * nametable → itemtoid → sparql → wd2tei sequentially): TEI catalogue
  * files in, enriched entity table + @ref-annotated XML out — entirely
  * as one Catalyst plan per output, no intermediate TSV/JSON files.
  *
  * Where the reference calls the remote Wikidata API per row, this
  * engine joins a local entity catalog (any table with id + name
  * columns); the full-text cascade becomes the blocked fuzzy join of
  * EntityMatch, and certitude comes from the same parameter-count rule.
  */
object WikidataPipeline {

  /** Stage 1+2: nametable from catalogue XML, name prep (normalize,
    * classify, years), and best-match against the entity catalog.
    * Not an [[EntityMatch.bestMatch]] caller: its ids come from a
    * user-supplied catalog and are not bounded longs, it blocks on
    * soundex with a left join, and it picks the best match through
    * `TopK.perGroup`. */
  def itemToId(spark: SparkSession, catalogueDir: String, catalog: DataFrame): DataFrame = {
    val nt = TeiCatalog.resolveLeMeme(
        TeiCatalog.nametable(TeiCatalog.readCatalogues(spark, catalogueDir)))
      // catalogue names carry first names in parens: split, expand the
      // abbreviated fname, and search on "lname fname" like the
      // reference's prep_query builds its API query
      // nobility names ("Duc de Broglie (Victor)") strip the title to
      // the searchable surname (itemtoid_prep.py:211-240); others split
      // lname/parenthetical-fname as usual
      .withColumn("lname", when(NameFunctions.hasStatus(col("name")),
          NameFunctions.stripStatus(NameFunctions.mainName(col("name"))))
        .otherwise(NameFunctions.normalizeName(NameFunctions.mainName(col("name")))))
      // composed-name table first, then per-token expansion
      .withColumn("fname", NameFunctions.expandComposed(
        NameFunctions.normalizeName(NameFunctions.parentheticalName(col("name")))))
      .withColumn("name_norm", NameFunctions.normalizeName(col("name")))
      .withColumn("name_full",
        trim(concat(col("lname"), lit(" "), col("fname"))))
      .withColumn("kind", NameFunctions.classifyName(col("name")))
      .withColumn("status_title", NameFunctions.statusTitles(col("name")))
      .withColumn("occupation", NameFunctions.occupationExtract(col("trait")))
      .withColumn("birth_year", NameFunctions.birthYear(col("trait")).cast("int"))
      .withColumn("death_year", NameFunctions.deathYear(col("trait")).cast("int"))
    val cat = catalog.select(col("entity_id"), col("entity_name"),
      NameFunctions.normalizeName(col("entity_name")).as("cat_norm"))
      // block on the soundex of the first normalized token (SURVEY §5's
      // prescription): ~26 first-char blocks would each hold 1/26th of
      // the catalog — quadratic inside a block at corpus scale — while
      // soundex-of-token yields thousands of phonetic blocks and still
      // catches spelling variants the edit distance is meant to rank
      .withColumn("block", soundex(substring_index(col("cat_norm"), " ", 1)))
    nt.withColumn("block", soundex(substring_index(col("name_full"), " ", 1)))
      .join(cat, Seq("block"), "left")
      .withColumn("distance", levenshtein(col("name_full"), col("cat_norm")))
      // best match per (xml_id, name) via the bounded-heap TopK operator:
      // only one candidate per group per map partition reaches the
      // shuffle, vs row_number's full candidate sort
      .transform(graft.plans.TopK.perGroup(
        Seq("xml_id", "name"), Seq("distance" -> true, "entity_id" -> true), 1))
      // certitude measures MATCH quality (the reference's matched-param
      // count, itemtoid_prep.py:344-352 qdata): a near-exact name hit,
      // a plausible edit distance, and corroborating life dates or an
      // extracted occupation only count when the name itself is close.
      // Block misses (null distance) are certitude 0, not null.
      .withColumn("certitude", coalesce(
        (col("distance") <= 4).cast("int")
          + (col("distance") <= 12).cast("int")
          + (col("birth_year").isNotNull && col("distance") <= 12).cast("int")
          + (col("occupation").isNotNull && col("distance") <= 12).cast("int"),
        lit(0)))
      .select(col("xml_id"), col("name"), col("name_full"), col("kind"),
        col("status_title"), col("occupation"),
        col("birth_year"), col("death_year"),
        col("entity_id").as("wikidata_id"), col("entity_name").as("matched_name"),
        col("distance"), col("certitude"))
  }

  /** Stage 3: enrich each matched id from the star schema (the SPARQL
    * attribute fetch; EnrichJoin documents the join shape). */
  def enrich(matched: DataFrame, attrs: DataFrame): DataFrame =
    matched.filter(col("wikidata_id").isNotNull)
      .select(col("wikidata_id")).distinct()
      .join(attrs, Seq("wikidata_id"), "left")

  /** The prefixDef block wd2tei.py:34 appends to the encodingDesc: it
    * declares how a `wd:Qxxx` ref expands to a full Wikidata URL. */
  val listPrefixDef: String =
    """<listPrefixDef><prefixDef ident="wd" matchPattern="(Q[0-9]+)" """ +
      """replacementPattern="https://www.wikidata.org/wiki/$1"/></listPrefixDef>"""

  /** Stage 4: wd2tei — set `ref="wd:Qxxx"` on every name element whose
    * literal text matched an entity, and declare the `wd:` prefix in
    * the header (wd2tei.py:34 rewrites each catalogue the same way,
    * matching names by text). The per-file rewrite folds the file's
    * matches over the XML string — documents shard by file, so the
    * rewrite distributes. */
  def refInjectXml(catalogues: DataFrame, matched: DataFrame): DataFrame = {
    val best = matched.filter(col("wikidata_id").isNotNull && col("certitude") >= 2)
      .select(col("name"), col("wikidata_id")).distinct()
    catalogues.join(best, expr("instr(xml, concat('>', name, '<')) > 0"), "left")
      // group by path alone: the XML document is payload, not key — a
      // whole-file string in the grouping key becomes the shuffle key
      .groupBy(col("path"))
      .agg(first(col("xml")).as("xml"),
        array_sort(collect_list(struct(col("name"), col("wikidata_id")))).as("refs"))
      // a file with no match joins (null, null): filter those structs
      // out before folding, else the null search string nulls the
      // whole document away
      .withColumn("xml_ref", expr(
        """aggregate(filter(refs, r -> r.name IS NOT NULL), xml, (acc, r) -> replace(replace(acc,
          |  concat('<name>', r.name, '</name>'),
          |  concat('<name ref="wd:', r.wikidata_id, '">', r.name, '</name>')),
          |  concat('<tei:name>', r.name, '</tei:name>'),
          |  concat('<tei:name ref="wd:', r.wikidata_id, '">', r.name, '</tei:name>')))
          |""".stripMargin.replace("\n", " ")))
      // declare the wd: prefix once per rewritten file, right after the
      // encodingDesc opens (only when the file actually gained a ref
      // and carries a header to declare it in)
      .withColumn("xml_ref",
        when(col("xml_ref").contains("ref=\"wd:") &&
            expr("instr(xml_ref, '<encodingDesc>')") > 0,
          expr(s"replace(xml_ref, '<encodingDesc>', concat('<encodingDesc>', '$listPrefixDef'))"))
          .otherwise(col("xml_ref")))
      .select(col("path"), col("xml_ref"))
  }
}
