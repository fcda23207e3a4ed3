package graft.ops

import graft.core.CardinalitySketch.DefaultP
import graft.functions._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The three north-star COUNT DISTINCT queries over the Common-Crawl-style
  * pages table (url, warc_ts, html, text, lang) — BASELINE.json north_star.
  * Each is a one-liner over the sketch aggregate; the salted variant handles
  * the zipf lang skew.
  */
object NorthQueries {

  /** 1. Distinct urls overall. */
  def distinctUrls(pages: DataFrame, p: Int = DefaultP): DataFrame =
    pages.agg(ce_approx_distinct(col("url"), p).as("distinct_urls"))

  /** 2. Distinct urls per lang — salted two-phase for the skewed langs
    * ("en" ~ 45% of rows): phase 1 spreads the hot key over `salts`
    * reducers, phase 2 unions the partial sketches.
    */
  def distinctUrlsPerLang(pages: DataFrame, p: Int = DefaultP, salts: Int = 64): DataFrame =
    pages
      .groupBy(col("lang"), pmod(xxhash64(col("url")), lit(salts)).as("_salt"))
      .agg(ce_sketch(col("url"), p).as("_sk"))
      .groupBy(col("lang"))
      .agg(ce_merge_estimate(col("_sk")).as("distinct_urls"))

  /** 3. Distinct text shingles per warc_ts day. Shingle hashes are computed
    * per row (one pass over the text); the explode ships only 8-byte hashes
    * into the per-day sketch aggregation.
    */
  def distinctShinglesPerDay(pages: DataFrame, p: Int = DefaultP, shingleSize: Int = 5): DataFrame =
    pages
      .select(to_date(col("warc_ts")).as("day"),
        explode(shingle_set(col("text"), shingleSize)).as("shingle_hash"))
      .groupBy(col("day"))
      .agg(ce_approx_distinct(col("shingle_hash"), p).as("distinct_shingles"))
}
