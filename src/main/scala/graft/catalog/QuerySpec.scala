package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query: a stable name, its Spark build and its DuckDB oracle.
  *
  * `build` is a pure (SparkSession, sfDir) => DataFrame over the star schema
  * (TESTDATA.md). `oracle` is ANSI SQL that DuckDB runs over the same parquet
  * tables; `None` only where the result is not SQL-expressible. The two sides
  * alias every column identically and share the ORDER BY, since the compare
  * sorts columns by name before hashing values. Integer sums are cast to
  * BIGINT on the DuckDB side (it widens to HUGEINT) and doubles are rounded
  * identically on both sides.
  *
  * Adding a query: one `QuerySpec` in its family's `*Queries.scala`, oracle
  * beside the build. `CatalogSpec` checks that names and `qNN` prefixes stay
  * unique. */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])
