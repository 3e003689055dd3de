package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.StacTraversal

/** Catalog traversal unit contract: href resolution, search-vs-static
  * branching, orphan exclusion, and next-chain reassembly lengths the q70
  * oracle query cannot isolate individually. */
class StacTraversalSpec extends AnyFunSuite with SparkSuite {

  private def item(id: String): String =
    s"""{"type":"Feature","stac_version":"1.0.0","id":"$id","bbox":[0.0,0.0,1.0,1.0],"properties":{"datetime":"2024-01-01T00:00:00.000000Z","proj:epsg":4326},"assets":{},"links":[]}"""

  private def walk(docs: Seq[(String, String)], roots: Seq[String], limit: Int = 2) = {
    import spark.implicits._
    StacTraversal.walkItems(docs.toDF("url", "json"), "url", "json", roots, limit)
      .select($"collection_id", $"item_id").as[(String, String)].collect().toSet
  }

  test("single-page search feed (no next links)") {
    val docs = Seq(
      ("https://c/root.json",
       """{"type":"Catalog","id":"r","links":[{"rel":"child","href":"./a/collection.json"},{"rel":"search","href":"https://c/search"}]}"""),
      ("https://c/a/collection.json", """{"type":"Collection","id":"a","links":[]}"""),
      ("https://c/search?collections=a&limit=2",
       s"""{"type":"FeatureCollection","features":[${item("i1")}],"links":[]}"""))
    assert(walk(docs, Seq("https://c/root.json")) === Set(("a", "i1")))
  }

  test("long next chain is fully reassembled (7 pages, one item each)") {
    val pages = (1 to 7).map { p =>
      val url = if (p == 1) "https://c/search?collections=a&limit=2"
                else s"https://c/search?collections=a&limit=2&page=$p"
      val next = if (p < 7)
        s""",{"rel":"next","href":"https://c/search?collections=a&limit=2&page=${p + 1}"}"""
      else ""
      (url,
       s"""{"type":"FeatureCollection","features":[${item(s"i$p")}],"links":[${next.stripPrefix(",")}]}""")
    }
    val docs = Seq(
      ("https://c/root.json",
       """{"type":"Catalog","id":"r","links":[{"rel":"child","href":"./a/collection.json"},{"rel":"search","href":"https://c/search"}]}"""),
      ("https://c/a/collection.json", """{"type":"Collection","id":"a","links":[]}""")) ++ pages
    assert(walk(docs, Seq("https://c/root.json")) ===
      (1 to 7).map(p => ("a", s"i$p")).toSet)
  }

  test("orphan collections and their chains never leak") {
    val docs = Seq(
      ("https://c/root.json",
       """{"type":"Catalog","id":"r","links":[{"rel":"child","href":"./a/collection.json"},{"rel":"search","href":"https://c/search"}]}"""),
      ("https://c/a/collection.json", """{"type":"Collection","id":"a","links":[]}"""),
      ("https://c/orphan/collection.json", """{"type":"Collection","id":"orphan","links":[]}"""),
      ("https://c/search?collections=a&limit=2",
       s"""{"type":"FeatureCollection","features":[${item("good")}],"links":[]}"""),
      ("https://c/search?collections=orphan&limit=2",
       s"""{"type":"FeatureCollection","features":[${item("leak")}],"links":[]}"""))
    assert(walk(docs, Seq("https://c/root.json")) === Set(("a", "good")))
  }

  test("static catalog: ../ and ./ href resolution through rel=item links") {
    val docs = Seq(
      ("https://c/cat/root.json",
       """{"type":"Catalog","id":"r","links":[{"rel":"child","href":"./b/collection.json"}]}"""),
      ("https://c/cat/b/collection.json",
       """{"type":"Collection","id":"b","links":[{"rel":"item","href":"./items/x.json"},{"rel":"item","href":"../shared/y.json"}]}"""),
      ("https://c/cat/b/items/x.json", item("x")),
      ("https://c/cat/shared/y.json", item("y")))
    assert(walk(docs, Seq("https://c/cat/root.json")) === Set(("b", "x"), ("b", "y")))
  }

  test("two roots: search catalog and static catalog walk together") {
    val docs = Seq(
      ("https://c/rootA.json",
       """{"type":"Catalog","id":"A","links":[{"rel":"child","href":"./a/collection.json"},{"rel":"search","href":"https://c/search"}]}"""),
      ("https://c/rootB.json",
       """{"type":"Catalog","id":"B","links":[{"rel":"child","href":"./b/collection.json"}]}"""),
      ("https://c/a/collection.json", """{"type":"Collection","id":"a","links":[]}"""),
      ("https://c/b/collection.json",
       """{"type":"Collection","id":"b","links":[{"rel":"item","href":"./i2.json"}]}"""),
      ("https://c/search?collections=a&limit=2",
       s"""{"type":"FeatureCollection","features":[${item("i1")}],"links":[]}"""),
      ("https://c/b/i2.json", item("i2")))
    assert(walk(docs, Seq("https://c/rootA.json", "https://c/rootB.json")) ===
      Set(("a", "i1"), ("b", "i2")))
  }

  test("a collection shared by two roots emits its items exactly once") {
    import spark.implicits._
    val docs = Seq(
      ("https://c/rootA.json",
       """{"type":"Catalog","id":"A","links":[{"rel":"child","href":"https://c/shared/collection.json"},{"rel":"search","href":"https://c/search"}]}"""),
      ("https://c/rootB.json",
       """{"type":"Catalog","id":"B","links":[{"rel":"child","href":"https://c/shared/collection.json"}]}"""),
      ("https://c/shared/collection.json",
       """{"type":"Collection","id":"shared","links":[{"rel":"item","href":"./static.json"}]}"""),
      ("https://c/shared/static.json", item("static-item")),
      ("https://c/search?collections=shared&limit=2",
       s"""{"type":"FeatureCollection","features":[${item("paged-item")}],"links":[]}"""))
      .toDF("url", "json")
    val out = StacTraversal.walkItems(docs, "url", "json",
        Seq("https://c/rootA.json", "https://c/rootB.json"), 2)
      .select($"collection_id", $"item_id").as[(String, String)].collect().toSeq
    // the search flow wins deterministically; no duplicate rows
    assert(out === Seq(("shared", "paged-item")))
  }

  test("a non-catalog root contributes nothing") {
    val docs = Seq(
      ("https://c/root.json", """{"type":"Collection","id":"notacat","links":[]}"""))
    assert(walk(docs, Seq("https://c/root.json")) === Set.empty)
  }

  test("driver and pointer-jumping chain resolvers agree on a 16-round page forest") {
    import spark.implicits._
    // (url, head = predecessor or self): one 40,000-page chain — its last
    // page is 39,999 > 2^15 hops from the head, so pointer jumping needs
    // all 16 rounds — plus 200 short chains of 2..9 pages and 500 single
    // pages
    val long = (0 until 40000).map(i => (s"L/$i", s"L/${math.max(0, i - 1)}"))
    val short = (0 until 200).flatMap { c =>
      (0 until 2 + c % 8).map(i => (s"S$c/$i", s"S$c/${math.max(0, i - 1)}"))
    }
    val single = (0 until 500).map(i => (s"P/$i", s"P/$i"))
    val labels = (long ++ short ++ single).toDF("url", "head")
    val nPages = labels.count()
    assert(nPages > 32768)
    val expected = long.map { case (u, _) => (u, "L/0") } ++
      short.map { case (u, _) => (u, u.takeWhile(_ != '/') + "/0") } ++ single
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"url", $"head").as[(String, String)].collect().sorted.toSeq
    val onDriver = rows(StacTraversal.resolveChainsOnDriver(labels))
    val jumped = rows(StacTraversal.resolveChainsByJumping(labels, nPages))
    assert(onDriver === expected.sorted)
    assert(jumped === onDriver)
  }

  test("item fields survive the page-feature path (epsg, ts, ring fallback)") {
    import spark.implicits._
    val docs = Seq(
      ("https://c/root.json",
       """{"type":"Catalog","id":"r","links":[{"rel":"child","href":"./a/collection.json"},{"rel":"search","href":"https://c/search"}]}"""),
      ("https://c/a/collection.json", """{"type":"Collection","id":"a","links":[]}"""),
      ("https://c/search?collections=a&limit=2",
       s"""{"type":"FeatureCollection","features":[${item("i1")}],"links":[]}"""))
      .toDF("url", "json")
    val row = StacTraversal.walkItems(docs, "url", "json", Seq("https://c/root.json"), 2)
      .select($"item_id", $"epsg", $"ts", $"ring").head()
    assert(row.getString(0) == "i1")
    assert(row.getInt(1) == 4326)
    assert(row.getLong(2) == 1704067200000L)
    // bbox fallback ring: [minx,miny, maxx,miny, maxx,maxy, minx,maxy]
    assert(row.getAs[scala.collection.Seq[Double]](3) ==
      Seq(0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 0.0, 1.0))
  }
}
