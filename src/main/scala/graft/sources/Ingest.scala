package graft.sources

import java.net.URLDecoder
import java.nio.charset.StandardCharsets

import graft.CacheReleases
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S1: dataset ingest from a metastore-style API
  * (extraction_to_local.py:6-47): GET the dataset metadata JSON, walk
  * `distribution[].downloadURL`, download each monthly CSV, and name it
  * `transport_<yyyy>-<MM>.csv` from the `dd-MM-yyyy to` range embedded
  * (URL-encoded) in the link.
  *
  * The transport is injected (`Fetch = url => bytes`): this environment
  * has no egress, and coupling the engine to one HTTP client would be
  * wrong anyway — callers pass `java.net.http` in production, a fixture
  * map in tests. Everything around the transport is real and tested:
  * the metadata parse runs through Spark's JSON reader, the naming rule
  * is the reference's regex byte-for-byte, and the fetch fans out over
  * executors (`mapPartitions`) writing through the Hadoop FS API — the
  * scale path for thousands of monthly files, where the reference's
  * driver-side sequential `requests.get` loop (extraction_to_local.py:
  * 36-47) would serialize on one machine.
  */
object Ingest {
  /** Transport: fetch a URL's body. Injected, never constructed here. */
  type Fetch = String => Array[Byte]

  /** One planned download: source URL → target filename. */
  final case class Download(url: String, filename: String)

  /** Reference naming rule (extraction_to_local.py:31-39): decode the
    * URL, find `dd-MM-yyyy to`, emit `transport_yyyy-MM.csv`; anything
    * unmatched falls back to `transport_unknown.csv`. */
  private val DatePattern = """(\d{2})-(\d{2})-(\d{4})\s+to""".r.unanchored

  def filenameFor(url: String): String = {
    val decoded = URLDecoder.decode(url, StandardCharsets.UTF_8)
    decoded match {
      case DatePattern(_, month, year) => s"transport_${year}-${month}.csv"
      case _                           => "transport_unknown.csv"
    }
  }

  /** Metadata JSON → ordered download plan. The JSON goes through
    * Spark's reader (declared path, no hand parser); `posexplode`
    * keeps the `distribution` array order so the reference's implicit
    * last-wins overwrite (later list entries clobber earlier same-name
    * files, extraction_to_local.py:36-47) becomes an explicit dedup. */
  def plan(spark: SparkSession, metadataJson: String): Seq[Download] = {
    import spark.implicits._
    val rows = spark.read.json(Seq(metadataJson).toDS())
      .select(posexplode(col("distribution")).as(Seq("ord", "d")))
      .select(col("ord"), col("d.downloadURL").as("url"))
      .filter(col("url").isNotNull)
      .as[(Long, String)].collect() // metadata doc: a handful of rows
    rows.sortBy(_._1)
      .map { case (_, url) => Download(url, filenameFor(url)) }
      .groupBy(_.filename).map { case (_, ds) => ds.last }
      .toSeq.sortBy(_.filename)
  }

  /** Execute a plan: fetch each URL on an executor and write
    * `destDir/filename` through the Hadoop FS API (works for file://,
    * hdfs://, s3a:// alike). Returns the receipt as a DataFrame
    * (filename, n_bytes) — an auditable manifest instead of the
    * reference's print statements. Partition count = plan size so each
    * file transfers independently. */
  def fetchTo(spark: SparkSession, plan: Seq[Download], destDir: String,
      fetch: Fetch): DataFrame = {
    import spark.implicits._
    require(plan.map(_.filename).distinct.size == plan.size,
      "download plan has duplicate target filenames")
    val n = math.max(1, plan.size)
    val received = spark.createDataset(plan).repartition(n)
      .mapPartitions { it =>
        it.map { d =>
          val bytes = fetch(d.url)
          val dir = new Path(destDir)
          val fs = dir.getFileSystem(new Configuration())
          fs.mkdirs(dir)
          val out = fs.create(new Path(dir, d.filename), true)
          try out.write(bytes) finally out.close()
          (d.filename, bytes.length.toLong)
        }
      }.toDF("filename", "n_bytes").transform(CacheReleases.persisted)
    received.count() // materialize: the writes are the effect
    received
  }

  /** End-to-end S1: metadata → plan → parallel fetch → manifest. */
  def ingest(spark: SparkSession, metadataJson: String, destDir: String,
      fetch: Fetch): DataFrame =
    fetchTo(spark, plan(spark, metadataJson), destDir, fetch)
}
