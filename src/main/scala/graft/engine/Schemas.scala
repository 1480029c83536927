package graft.engine

import org.apache.spark.sql.types._

/** Explicit schemas for every input the engine reads.
  *
  * The reference infers every schema (`spark.read.json` with no schema at
  * /root/reference/etl.py:43,87 — see SURVEY.md §1.2). Inference costs an
  * extra pass over the data and drifts with the input (string vs long
  * `userId`), which is unacceptable at 100 TB. The engine therefore declares
  * `StructType`s for every source; inference remains available only as an
  * opt-in ingest mode ([[Tables.readJsonInferred]]).
  */
object Schemas {

  // -------------------------------------------------------------------------
  // A. Reference-shaped JSON inputs (FIXTURES.md §A; consumed by the
  //    star-schema pipeline, graft.pipeline.StarSchema).
  // -------------------------------------------------------------------------

  /** song_data four-deep glob (`song_data/&#42;/&#42;/&#42;/&#42;.json`) — one song per file (etl.py:37,43). */
  val songData: StructType = StructType(Seq(
    StructField("song_id", StringType),
    StructField("title", StringType),
    StructField("artist_id", StringType),
    StructField("year", LongType),
    StructField("duration", DoubleType),
    StructField("artist_name", StringType),
    StructField("artist_location", StringType),
    StructField("artist_latitude", DoubleType),
    StructField("artist_longitude", DoubleType)
  ))

  /** The `songs` table the song stage writes: these `songData` fields,
    * partitioned by year and artist_id. The log stage re-reads it with
    * this schema, so writer and reader share one definition. */
  val songs: StructType =
    StructType(Seq("song_id", "title", "artist_id", "year", "duration").map(songData(_)))

  /** `artists` columns as (songData field, table column) renames. */
  val artistRenames: Seq[(String, String)] = Seq(
    "artist_id" -> "artist_id", "artist_name" -> "name",
    "artist_location" -> "location", "artist_latitude" -> "latitude",
    "artist_longitude" -> "longitude")

  /** The `artists` table the song stage writes (unpartitioned). */
  val artists: StructType = StructType(artistRenames.map { case (from, to) =>
    songData(from).copy(name = to)
  })

  /** log_data three-deep glob — newline-delimited activity events (etl.py:78,87). */
  val logData: StructType = StructType(Seq(
    StructField("page", StringType),
    StructField("ts", LongType), // epoch MILLISECONDS (etl.py:92)
    StructField("userId", StringType),
    StructField("firstName", StringType),
    StructField("lastName", StringType),
    StructField("gender", StringType),
    StructField("level", StringType),
    StructField("song", StringType),
    StructField("artist", StringType),
    StructField("sessionId", LongType),
    StructField("location", StringType),
    StructField("userAgent", StringType)
  ))

  /** Four-column orders slice used by the judged JSON round-trip
    * (`q_json_source`): the S1 explicit-schema scan over ndjson. */
  val ordersJsonSlice: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType)
  ))

  // -------------------------------------------------------------------------
  // B. Harness parquet tables (/root/testdata/sf*/; FIXTURES.md §B).
  //    Parquet carries its own schema — these are declared so tests can
  //    assert the files still match what the operators assume.
  // -------------------------------------------------------------------------

  val region: StructType = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)
  ))

  val nation: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)
  ))

  val customer: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)
  ))

  val supplier: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)
  ))

  val part: StructType = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)
  ))

  val orders: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)
  ))

  val lineitem: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)
  ))

  val events: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType) // JSON string, e.g. {"k": 69}
  ))

  val documents: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)
  ))

  val embeddings: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)
  ))

  /** All harness tables, by name, for schema-conformance tests. */
  val harnessTables: Map[String, StructType] = Map(
    "region" -> region, "nation" -> nation, "customer" -> customer,
    "supplier" -> supplier, "part" -> part, "orders" -> orders,
    "lineitem" -> lineitem, "events" -> events,
    "documents" -> documents, "embeddings" -> embeddings
  )
}
