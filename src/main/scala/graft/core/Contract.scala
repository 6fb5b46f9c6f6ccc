package graft.core

import org.apache.spark.sql.SparkSession

/** Data contract for the driver-generated testdata: the expected Spark-side
  * dtype of every column of every table, checked loudly at startup.
  *
  * Exists because a testdata regeneration once flipped `events.ts` from
  * parquet TIMESTAMP(NANOS) to `timestamp[us]` and the breakage surfaced as
  * nine silently-missing gate rows instead of one named error. The contract
  * turns the next encoding drift into a one-line diagnosis: table, column,
  * expected type(s), actual type.
  *
  * Columns with several accepted encodings (the timestamp columns, whose
  * parquet physical type has historically varied and whose consumers
  * dispatch on the scanned type — [[Tables.normalizeEventTs]]) list every
  * type the engine knows how to normalize.
  */
object Contract {

  /** events.ts has a scanned-type dispatch ([[Tables.normalizeEventTs]]), so
    * all three historical encodings are acceptable THERE. The date columns of
    * orders/lineitem have no such dispatch — a regeneration shipping them as
    * raw longs would break every date query, so `bigint` must NOT pass their
    * contract silently (that silent pass is the exact failure mode this file
    * exists to name). */
  private val ts = Set("timestamp", "timestamp_ntz", "bigint")
  private val tsNoDispatch = Set("timestamp", "timestamp_ntz")

  /** table -> ordered (column, accepted simpleString dtypes). */
  val expected: Map[String, Seq[(String, Set[String])]] = Map(
    "region" -> Seq(
      "r_regionkey" -> Set("int"), "r_name" -> Set("string")),
    "nation" -> Seq(
      "n_nationkey" -> Set("int"), "n_name" -> Set("string"),
      "n_regionkey" -> Set("int")),
    "customer" -> Seq(
      "c_custkey" -> Set("bigint"), "c_name" -> Set("string"),
      "c_nationkey" -> Set("int"), "c_acctbal" -> Set("double"),
      "c_mktsegment" -> Set("string")),
    "supplier" -> Seq(
      "s_suppkey" -> Set("bigint"), "s_name" -> Set("string"),
      "s_nationkey" -> Set("int"), "s_acctbal" -> Set("double")),
    "part" -> Seq(
      "p_partkey" -> Set("bigint"), "p_name" -> Set("string"),
      "p_brand" -> Set("string"), "p_type" -> Set("string"),
      "p_size" -> Set("int"), "p_retailprice" -> Set("double")),
    "orders" -> Seq(
      "o_orderkey" -> Set("bigint"), "o_custkey" -> Set("bigint"),
      "o_orderstatus" -> Set("string"), "o_totalprice" -> Set("double"),
      "o_orderdate" -> tsNoDispatch, "o_orderpriority" -> Set("string")),
    "lineitem" -> Seq(
      "l_orderkey" -> Set("bigint"), "l_partkey" -> Set("bigint"),
      "l_suppkey" -> Set("bigint"), "l_linenumber" -> Set("int"),
      "l_quantity" -> Set("double"), "l_extendedprice" -> Set("double"),
      "l_discount" -> Set("double"), "l_tax" -> Set("double"),
      "l_returnflag" -> Set("string"), "l_linestatus" -> Set("string"),
      "l_shipdate" -> tsNoDispatch),
    "events" -> Seq(
      "event_id" -> Set("bigint"), "ts" -> ts, "user_id" -> Set("bigint"),
      "event_type" -> Set("string"), "value" -> Set("double"),
      "props" -> Set("string")),
    "documents" -> Seq(
      "doc_id" -> Set("bigint"), "text" -> Set("string"),
      "lang" -> Set("string"), "source" -> Set("string"),
      "n_chars" -> Set("bigint")),
    "embeddings" -> Seq(
      "vec_id" -> Set("bigint"), "embedding" -> Set("array<float>"),
      "label" -> Set("int")))

  /** Check one already-loaded frame against its table contract; returns one
    * human-readable line per mismatch (missing column, unexpected dtype),
    * empty when conforming. */
  def checkTable(table: String,
                 schema: org.apache.spark.sql.types.StructType): Seq[String] =
    expected.get(table).fold(Seq.empty[String]) { cols =>
      val actual = schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
      cols.flatMap { case (name, accepted) =>
        actual.get(name) match {
          case None => Some(
            s"$table.$name: MISSING (expected ${accepted.mkString("|")};" +
              s" present columns: ${schema.fieldNames.mkString(", ")})")
          case Some(t) if !accepted(t) => Some(
            s"$table.$name: expected ${accepted.mkString("|")}, scan produced $t")
          case _ => None
        }
      }
    }

  /** Check every table under a scale-factor dir (footer reads only — nothing
    * is scanned). Returns all mismatches; empty means the data conforms. */
  def check(spark: SparkSession, dir: String): Seq[String] =
    Tables.all.flatMap { t =>
      try checkTable(t, Tables(spark, dir, t).schema)
      catch { case e: Exception =>
        Seq(s"$t: unreadable at $dir/$t.parquet — ${e.getMessage}")
      }
    }

  /** Loud non-fatal gate for Verify's startup: named mismatches go to
    * stderr (so a regeneration is diagnosed from the first lines of the run
    * log) but execution continues — consumers that dispatch on the scanned
    * type may still be fine, and a partial gate beats an empty one. */
  def warn(spark: SparkSession, dir: String): Unit = {
    val bad = check(spark, dir)
    if (bad.nonEmpty) {
      System.err.println(
        s"DATA CONTRACT: ${bad.size} mismatch(es) against $dir — " +
          "the testdata encoding changed; see graft.core.Contract")
      bad.foreach(m => System.err.println(s"DATA CONTRACT: $m"))
    }
  }
}
