package graft

/** Correctness dump: runs every SparkEntry query at the given scale-factor
  * dir, writes one parquet per query plus the oracle SQL map as JSON.
  *
  * Usage: Verify <sfDir> <outDir> [comma-separated key subset]
  */
object Verify {

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def main(args: Array[String]): Unit = {
    val sfDir  = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_verify"
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).filter(_.nonEmpty).toSet) else None
    only.foreach(SparkEntry.requireKnown(_, "the key subset"))
    val selected = SparkEntry.queries.filter { case (k, _) => only.forall(_.contains(k)) }
    val oracles  = SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) }
    val spark  = GraftSession.create("graft-verify")

    // Oracle map first, independent of query execution: one broken query
    // must not zero out every other query's verification.
    val json = oracles.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${jsonEscape(k)}": "${jsonEscape(v)}"""" }
      .mkString("{\n", ",\n", "\n}")
    val path = java.nio.file.Paths.get(outDir, "oracle_sql.json")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, json.getBytes("UTF-8"))

    var failed = 0
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        // Canonical row order is applied HERE, at verification-dump time,
        // not inside the operators: production query shapes must not end
        // in a global sort of their (possibly quadratic) output just so a
        // correctness dump is deterministic. Sort by every orderable
        // column left-to-right (maps aren't orderable in Spark; skip them
        // — the remaining columns key such rows deterministically).
        val df = fn(spark, sfDir)
        val sortCols = df.schema.fields.collect {
          case f if !f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] =>
            org.apache.spark.sql.functions.col(f.name)
        }.toSeq
        (if (sortCols.nonEmpty) df.orderBy(sortCols: _*) else df)
          .coalesce(1)
          .write
          .mode("overwrite")
          .parquet(s"$outDir/$name")
        println(f"verify $name done in ${(System.nanoTime() - t0) / 1e9}%.2fs")
      } catch {
        case e: Throwable =>
          failed += 1
          println(s"verify $name FAILED: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
      } finally {
        // Release per-query checkpoint blocks (see GraftSession.releaseCaches).
        GraftSession.releaseCaches(spark)
      }
    }
    println(s"wrote ${selected.size - failed}/${selected.size} results + oracle_sql.json to $outDir")
    spark.stop()
  }
}
