package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.IterativeLoops

/**
 * STAC catalog traversal + paged item search over a FETCHED document set
 * (S6/S7 orchestration — the reference walks these links with live HTTP,
 * adapters/stac/StacResource.java:76-97 Catalog search-endpoint discovery,
 * :156-178 Collection -> Catalog resolution; adapters/stac/StacParser.java:
 * 118-153 readAssetsFromCollection's two paths: search endpoint with a
 * `?collections=<id>&limit=N` query, else the static rel=item links. Network
 * fetch is out of contract here: the input is a (url, json) table of
 * already-mirrored documents, and traversal = reachability over it).
 *
 * Spark-first shapes:
 *  - link edges are one exploded projection; `./`/`../` href resolution is
 *    column arithmetic (StacParser.getUrlOfItem:94-103 semantics);
 *  - catalog -> collection is a single equi-join (catalogs are 2 levels
 *    deep, not a general graph);
 *  - the `rel=next` page chain is REASSEMBLED BY PARALLEL POINTER JUMPING
 *    past [[PageChainDriverMax]] pages (one memoized driver walk below it):
 *    every page starts labeled with its predecessor (or itself) and each
 *    round relabels through `head := head(head)`, so a chain of L pages
 *    resolves to its first page in ceil(log2 L) distributed rounds with
 *    O(pages) state — a sequential next-link walk would take L driver
 *    round-trips, and a transitive-closure join O(L^2) pairs;
 *  - items never pass through the driver: search pages re-parse only their
 *    `features` array (pruned from_json) and explode, static items parse
 *    their own documents.
 */
object StacTraversal {

  /** Page-count bound below which the rel=next chain resolves on the
    * driver (one bounded collect of (url, prev) pairs — a few MB at the
    * bound) instead of distributed pointer jumping; data-derived, like
    * SpatialJoin's broadcast gate. */
  private[sources] val PageChainDriverMax = 100000L

  /** Union facet of every STAC document kind the walk touches (catalog /
    * collection / FeatureCollection page / item): navigation fields, the
    * page `features` array, and the item fields themselves. ONE schema so
    * the whole document set is tokenized exactly once — from_json prunes
    * absent fields per document kind, but a second pass with a narrower
    * schema would still re-tokenize every byte (JSON parse cost is
    * tokenization, not schema width). */
  val docSchema: StructType = StructType(
    StructField("features", ArrayType(StacIngest.itemSchema)) +:
      StacIngest.itemSchema.fields.toSeq)

  /** `./`/`../` href resolution against the source document url
    * (StacParser.getUrlOfItem:94-103). */
  private def resolveHref(src: Column, href: Column): Column = {
    val dir = regexp_replace(src, "[^/]*$", "")      // strip the doc name
    val parent = regexp_replace(dir, "[^/]+/$", "")  // one directory up
    when(href.startsWith("../"), concat(parent, regexp_replace(href, "^\\.\\./", "")))
      .when(href.startsWith("./"), concat(dir, regexp_replace(href, "^\\./", "")))
      .otherwise(href)
  }

  /**
   * Walk `roots` (catalog urls) and return every reachable item as
   * (collection_id, item_id, ring, t_start, t_end, ts, epsg, assets, links).
   *
   * Per catalog, per the reference's branching: a catalog WITH a rel=search
   * link reads each collection's items from the paged search feed whose
   * first page is `<search>?collections=<id>&limit=<limit>` and whose later
   * pages chain by rel=next links; a catalog WITHOUT one follows the
   * collections' static rel=item links to item documents. Documents not
   * reachable from a root contribute nothing.
   */
  def walkItems(docs: DataFrame, urlCol: String, jsonCol: String,
                roots: Seq[String], limit: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    // parse EVERY document once with the union schema and materialize: the
    // traversal makes several passes (edges x3, page features, static
    // items) and re-parsing per pass re-tokenizes every byte. The parsed
    // checkpoint trades memory for parse passes — the right trade while
    // the traversal runs; it is job-scoped (GC'd with the RDD), not a
    // session cache.
    val parsed = docs
      .select(col(urlCol).as("url"), from_json(col(jsonCol), docSchema).as("__j"))
      .localCheckpoint(true)
    val nav = parsed
      .select($"url", lower($"__j.type").as("doc_type"), $"__j.id".as("doc_id"),
              $"__j.links".as("links"))

    val edges = nav
      .select($"url".as("src"), explode_outer($"links").as("l"))
      .select($"src", lower($"l.rel").as("rel"), resolveHref($"src", $"l.href").as("dst"))
      .filter($"rel".isNotNull)

    val rootDf = roots.toDF("root_url")
    val rootEdges = edges.join(broadcast(rootDf), $"src" === $"root_url")

    // per-root search endpoint (0..1 per catalog, StacResource.java:88-89)
    val searchEp = rootEdges.filter($"rel" === "search")
      .select($"root_url", $"dst".as("search_url"))

    // catalog -> collection (type-checked like Collection(url),
    // StacResource.java:156-166). A collection reachable from SEVERAL
    // roots resolves once, deterministically: the search endpoint wins
    // over static (min over non-null search_urls — the reference prefers
    // the search flow whenever a catalog advertises one,
    // StacParser.java:118-141), so items are never emitted twice and the
    // outcome never depends on shuffle arrival order.
    val collections = rootEdges.filter($"rel" === "child")
      .select($"root_url", $"dst".as("coll_url"))
      .join(nav.filter($"doc_type" === "collection").select(
        $"url".as("coll_url"), $"doc_id".as("collection_id")), "coll_url")
      .join(broadcast(searchEp), Seq("root_url"), "left")
      .groupBy($"coll_url", $"collection_id")
      .agg(min($"search_url").as("search_url"))
      .localCheckpoint(true)

    // ---- paged search path ----
    val firstPages = collections.filter($"search_url".isNotNull)
      .select($"collection_id",
        concat($"search_url", lit("?collections="), $"collection_id",
               lit(s"&limit=$limit")).as("head"))

    // label every page with its predecessor (or itself), then resolve each
    // label to its chain's first page — on the driver below the size gate,
    // by distributed pointer jumping past it
    val nextRev = edges.filter($"rel" === "next").select($"dst".as("url"), $"src".as("prev"))
    val lab0 = nav.filter($"doc_type" === "featurecollection").select($"url")
      .join(nextRev, Seq("url"), "left")
      .select($"url", coalesce($"prev", $"url").as("head"))
      .localCheckpoint(true)
    val nPages = lab0.count() // cheap: counts the just-checkpointed labels
    val lab = if (nPages > 0 && nPages <= PageChainDriverMax) resolveChainsOnDriver(lab0)
              else resolveChainsByJumping(lab0, nPages)
    val searchPages = lab.join(firstPages, Seq("head"))
      .select($"url", $"collection_id")

    val searchOut = parsed
      .join(searchPages, Seq("url"))
      .select($"collection_id", explode($"__j.features").as("__f"))
      .select(($"collection_id" +: StacIngest.itemProjection($"__f")): _*)

    // ---- static rel=item path (catalogs without a search endpoint):
    // the item documents were already parsed by the union schema ----
    val staticItemUrls = collections.filter($"search_url".isNull)
      .select($"coll_url", $"collection_id")
      .join(edges.filter($"rel" === "item"), $"coll_url" === $"src")
      .select($"collection_id", $"dst".as("url"))
    val staticOut = parsed
      .join(staticItemUrls, Seq("url"))
      .select(($"collection_id" +: StacIngest.itemProjection($"__j")): _*)

    searchOut.unionByName(staticOut)
  }

  /**
   * SIZE-GATED driver resolution of (url, head = predecessor or self)
   * labels to (url, chain head). The page table is one row per page — at
   * [[PageChainDriverMax]] a few MB — and the measured cost of the
   * distributed jump rounds on a SMALL chain set is almost pure driver
   * planning + broadcast-build jobs (q70: ~12 jobs and ~1.5 s wall for 48
   * pages). Collect once, follow prev pointers with memoization,
   * parallelize the resolved labels back. Same fixpoint as
   * [[resolveChainsByJumping]], which takes over past the gate (a 10^9-item
   * catalog is ~2M pages).
   */
  private[graft] def resolveChainsOnDriver(labels: DataFrame): DataFrame = {
    val spark = labels.sparkSession
    import spark.implicits._
    val rows = labels.collect()
    val parent = new java.util.HashMap[String, String](rows.length * 2)
    rows.foreach(r => parent.put(r.getString(0), r.getString(1)))
    val root = new java.util.HashMap[String, String](rows.length * 2)
    def resolve(u0: String): String = {
      // iterative walk + path memoization (a recursive walk would
      // overflow the stack on a chain near the gate)
      val path = new scala.collection.mutable.ArrayBuffer[String]()
      var u = u0
      var r = root.get(u)
      while (r == null) {
        val p = parent.getOrDefault(u, u)
        if (p == u) r = u
        else { path += u; u = p; r = root.get(u) }
      }
      path.foreach(root.put(_, r))
      root.put(u0, r)
      r
    }
    rows.map(r => (r.getString(0), resolve(r.getString(0)))).toSeq.toDF("url", "head")
  }

  /**
   * Parallel pointer jumping over (url, head) labels of `nPages` pages:
   * each round relabels through `head := head(head)`, doubling the jump
   * length, so a chain of L <= nPages pages resolves to its first page in
   * ceil(log2 nPages) rounds, run BLINDLY (no per-round convergence action;
   * rounds past convergence are no-op self-joins). Every round goes
   * through [[IterativeLoops.materializedLeafLazy]]: each round starts from
   * a bare leaf (flat planning cost at any round count — a plain
   * localCheckpoint chain is not), and no round runs a job of its own to
   * materialize; its blocks cache inside the job that next consumes them.
   */
  private[graft] def resolveChainsByJumping(labels: DataFrame, nPages: Long): DataFrame = {
    val rounds = if (nPages <= 2) 1 else 64 - java.lang.Long.numberOfLeadingZeros(nPages - 1)
    (0 until rounds).foldLeft(labels) { (lab, _) =>
      IterativeLoops.materializedLeafLazy(lab.as("a")
        .join(lab.as("b").select(col("url").as("hu"), col("head").as("hh")),
              col("a.head") === col("hu"), "left")
        .select(col("a.url").as("url"), coalesce(col("hh"), col("a.head")).as("head")))
    }
  }
}
