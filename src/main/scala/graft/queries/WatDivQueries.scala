package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.datalog.{Planner, QuadSource}
import graft.sources.{Rdf, WatDivGen}

/** WatDiv mini-corpus gates (VERDICT r2 §missing #5): the reference's
  * remaining benchmark family (crux-bench/src/crux/bench/watdiv_crux.clj
  * — ingest watdiv.10M.nt, run the stress-100 SPARQL suite, validate
  * per-query RESULT COUNTS against other stores, watdiv_crux.clj:88-115).
  * The corpus + queries are fetched from S3 there, so this port runs the
  * four published WatDiv template families — star (S), linear (L),
  * snowflake (F), complex (C) — over a deterministic committed slice of
  * the public WSDBM schema ([[WatDivGen]]).
  *
  * Query shapes follow the WatDiv basic-testing templates (ISWC 2014,
  * §4): S = one subject, many properties; L = property paths; F = star
  * joined to a second star through one edge; C = multi-entity composites.
  * These stress star+path join planning LUBM doesn't (LUBM is mostly
  * type-filtered equi-joins; WatDiv C-templates chain 3+ hub entities).
  *
  * Scale shape: identical to [[LubmQueries]] — one linear text scan,
  * per-pattern filtered projections, equi-joins on shared vars through
  * the generic [[Planner]] (Catalyst/AQE pick the join order; the star
  * center's patterns all hash-join on the same key so they co-partition
  * after the first shuffle).
  */
object WatDivQueries {
  /** Committed deterministic slice (see [[WatDivGen]] provenance), as an
    * absolute path into the working directory's checkout: the oracle SQL
    * embeds it, so it must name one file wherever it is read. */
  val path: String = java.nio.file.Paths.get(WatDivGen.defaultPath).toAbsolutePath.toString

  private val attrs = Seq("type", "parentCountry", "caption", "hasGenre",
    "contentRating", "hasReview", "reviewer", "rating", "totalVotes",
    "offers", "includes", "price", "validThrough", "eligibleRegion",
    "url", "hits", "nationality", "livesIn", "gender", "age", "givenName",
    "follows", "likes", "friendOf", "subscribes")

  private def source(s: SparkSession): QuadSource =
    new QuadSource(Rdf.loadNTriples(s, path).select("e", "a", "v_str"),
      attrs.map(_ -> "v_str").toMap, key = Some("watdiv:" + path))

  private def dl(q: String)(s: SparkSession, dir: String): DataFrame =
    Planner.q(s, source(s), q)

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1: star on Offer — retailer constant in entity position, five
    // properties of the offer (template watdiv S1: gr:offers/includes/
    // price/validThrough/eligibleRegion)
    "watdiv_s1" -> dl("""
      {:find [?o ?p ?price ?vt ?region]
       :keys [o p price vt region]
       :where [["Retailer3" :offers ?o]
               [?o :includes ?p]
               [?o :price ?price]
               [?o :validThrough ?vt]
               [?o :eligibleRegion ?region]]}""") _,

    // S2: star on User — two constant-valued properties + one projected
    // (template S2: sorg:nationality const, rdf:type const)
    "watdiv_s2" -> dl("""
      {:find [?u ?g] :keys [u g]
       :where [[?u :nationality "Country4"]
               [?u :type "Role1"]
               [?u :gender ?g]]}""") _,

    // L1: linear path user -> product -> caption anchored on a constant
    // subscription (template L1: subscribes const / likes / caption)
    "watdiv_l1" -> dl("""
      {:find [?u ?p ?c] :keys [u p c]
       :where [[?u :subscribes "Website5"]
               [?u :likes ?p]
               [?p :caption ?c]]}""") _,

    // L2: 2-hop geographic path from a constant liked product
    // (template L2 shape: likes const / livesIn / gn:parentCountry)
    "watdiv_l2" -> dl("""
      {:find [?u ?city ?country] :keys [u city country]
       :where [[?u :likes "Product0"]
               [?u :livesIn ?city]
               [?city :parentCountry ?country]]}""") _,

    // F1: snowflake — product star (genre const, caption) joined through
    // rev:hasReview to a review star (rating, reviewer) ending in a
    // user constant (template F3/F5 shape)
    "watdiv_f1" -> dl("""
      {:find [?prod ?c ?rev ?rating ?u] :keys [prod c rev rating u]
       :where [[?prod :hasGenre "Genre7"]
               [?prod :caption ?c]
               [?prod :hasReview ?rev]
               [?rev :rating ?rating]
               [?rev :reviewer ?u]
               [?u :nationality "Country2"]]}""") _,

    // C1: complex — social hop (follows) into a commerce star
    // (likes / includes / offers const) with a range predicate on
    // price (template C3 shape; prices are fixed-width so the string
    // range equals the numeric range on both engines)
    "watdiv_c1" -> dl("""
      {:find [?u ?v ?p ?price] :keys [u v p price]
       :where [[?u :follows ?v]
               [?v :likes ?p]
               [?o :includes ?p]
               ["Retailer0" :offers ?o]
               [?o :price ?price]
               [(< ?price "02000")]]}""") _,

    // F2: snowflake on the user/website axis — user star (role const,
    // city) + subscription into a website star (url, hits range)
    "watdiv_f2" -> dl("""
      {:find [?u ?city ?w ?url ?hits] :keys [u city w url hits]
       :where [[?u :type "Role2"]
               [?u :livesIn ?city]
               [?u :subscribes ?w]
               [?w :url ?url]
               [?w :hits ?hits]
               [(>= ?hits "050000")]]}""") _,

    // L3: 3-hop linear — reviews with a constant rating, their reviewer,
    // the reviewer's city and its country
    "watdiv_l3" -> dl("""
      {:find [?rev ?u ?city ?country] :keys [rev u city country]
       :where [[?rev :rating "5"]
               [?rev :reviewer ?u]
               [?u :livesIn ?city]
               [?city :parentCountry ?country]]}""") _,

    // C2: two social hops (follows → friendOf) ending in a genre-anchored
    // product like — the deep-join complex template
    "watdiv_c2" -> dl("""
      {:find [?u ?f ?ff ?p] :keys [u f ff p]
       :where [[?u :follows ?f]
               [?f :friendOf ?ff]
               [?ff :likes ?p]
               [?p :hasGenre "Genre3"]
               [?u :nationality "Country1"]]}""") _)
}

/** DuckDB oracles over the same committed .nt bytes, with the same
  * local-name shortening as [[Rdf.loadNTriples]] (see [[LubmSql]]). */
object WatDivSql {
  private val nt = raw"""
    WITH nt AS (
      SELECT regexp_extract(line, '^<[^>]*?([^/#>]+)>', 1) AS e,
             regexp_extract(line, '^<[^>]*>\s*<[^>]*?([^/#>]+)>', 1) AS a,
             COALESCE(
               NULLIF(regexp_extract(line,
                 '^<[^>]*>\s*<[^>]*>\s*<[^>]*?([^/#>]+)>\s*\.\s*$$', 1), ''),
               regexp_extract(line, '"([^"]*)"', 1)) AS v
      FROM read_csv('${WatDivQueries.path}',
                    columns={'line': 'VARCHAR'}, delim='\t',
                    header=false, quote='')
    )"""

  val all: Map[String, String] = Map(
    "watdiv_s1" -> raw"""$nt
      SELECT DISTINCT ofr.v AS o, inc.v AS p, pr.v AS price,
             vt.v AS vt, er.v AS region
      FROM nt ofr
      JOIN nt inc ON inc.e = ofr.v AND inc.a='includes'
      JOIN nt pr  ON pr.e  = ofr.v AND pr.a='price'
      JOIN nt vt  ON vt.e  = ofr.v AND vt.a='validThrough'
      JOIN nt er  ON er.e  = ofr.v AND er.a='eligibleRegion'
      WHERE ofr.e='Retailer3' AND ofr.a='offers'""",

    "watdiv_s2" -> raw"""$nt
      SELECT DISTINCT n.e AS u, g.v AS g FROM nt n
      JOIN nt ty ON ty.e = n.e AND ty.a='type' AND ty.v='Role1'
      JOIN nt g  ON g.e  = n.e AND g.a='gender'
      WHERE n.a='nationality' AND n.v='Country4'""",

    "watdiv_l1" -> raw"""$nt
      SELECT DISTINCT s.e AS u, l.v AS p, c.v AS c FROM nt s
      JOIN nt l ON l.e = s.e AND l.a='likes'
      JOIN nt c ON c.e = l.v AND c.a='caption'
      WHERE s.a='subscribes' AND s.v='Website5'""",

    "watdiv_l2" -> raw"""$nt
      SELECT DISTINCT lk.e AS u, li.v AS city, pc.v AS country FROM nt lk
      JOIN nt li ON li.e = lk.e AND li.a='livesIn'
      JOIN nt pc ON pc.e = li.v AND pc.a='parentCountry'
      WHERE lk.a='likes' AND lk.v='Product0'""",

    "watdiv_f1" -> raw"""$nt
      SELECT DISTINCT hg.e AS prod, c.v AS c, hr.v AS rev,
             ra.v AS rating, rw.v AS u
      FROM nt hg
      JOIN nt c  ON c.e  = hg.e AND c.a='caption'
      JOIN nt hr ON hr.e = hg.e AND hr.a='hasReview'
      JOIN nt ra ON ra.e = hr.v AND ra.a='rating'
      JOIN nt rw ON rw.e = hr.v AND rw.a='reviewer'
      JOIN nt na ON na.e = rw.v AND na.a='nationality' AND na.v='Country2'
      WHERE hg.a='hasGenre' AND hg.v='Genre7'""",

    "watdiv_c1" -> raw"""$nt
      SELECT DISTINCT f.e AS u, f.v AS v, l.v AS p, pr.v AS price
      FROM nt f
      JOIN nt l   ON l.e   = f.v AND l.a='likes'
      JOIN nt inc ON inc.a='includes' AND inc.v = l.v
      JOIN nt ofr ON ofr.e='Retailer0' AND ofr.a='offers' AND ofr.v = inc.e
      JOIN nt pr  ON pr.e  = inc.e AND pr.a='price' AND pr.v < '02000'
      WHERE f.a='follows'""",

    "watdiv_f2" -> raw"""$nt
      SELECT DISTINCT ty.e AS u, li.v AS city, su.v AS w,
             u2.v AS url, h.v AS hits
      FROM nt ty
      JOIN nt li ON li.e = ty.e AND li.a='livesIn'
      JOIN nt su ON su.e = ty.e AND su.a='subscribes'
      JOIN nt u2 ON u2.e = su.v AND u2.a='url'
      JOIN nt h  ON h.e  = su.v AND h.a='hits' AND h.v >= '050000'
      WHERE ty.a='type' AND ty.v='Role2'""",

    "watdiv_l3" -> raw"""$nt
      SELECT DISTINCT ra.e AS rev, rw.v AS u, li.v AS city, pc.v AS country
      FROM nt ra
      JOIN nt rw ON rw.e = ra.e AND rw.a='reviewer'
      JOIN nt li ON li.e = rw.v AND li.a='livesIn'
      JOIN nt pc ON pc.e = li.v AND pc.a='parentCountry'
      WHERE ra.a='rating' AND ra.v='5'""",

    "watdiv_c2" -> raw"""$nt
      SELECT DISTINCT f.e AS u, f.v AS f, fr.v AS ff, l.v AS p
      FROM nt f
      JOIN nt na ON na.e = f.e AND na.a='nationality' AND na.v='Country1'
      JOIN nt fr ON fr.e = f.v AND fr.a='friendOf'
      JOIN nt l  ON l.e  = fr.v AND l.a='likes'
      JOIN nt hg ON hg.e = l.v AND hg.a='hasGenre' AND hg.v='Genre3'
      WHERE f.a='follows'""")
}
