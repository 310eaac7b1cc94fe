package graft.tools

import java.nio.file.{Files, Paths}

/** Emits the label-sharded oracle SQL for the pair-family queries whose
  * one-shot DuckDB replay is oracle-bound at the 100× surrogate
  * ([[graft.queries.EmbedQueries.shardedOracleSql]] — exactness argument
  * there). One JSON file drives tools/sharded_ledger.py:
  *
  * {{{
  *   { "<query>": { "slice": "<SQL with __DUMP__/__L__>",
  *                  "shards": { "<label>": "<oracle SQL for that cell>" } } }
  * }}}
  *
  * Shard values are the DISTINCT labels read from the target SF dir
  * (bounded — the corpus has 10 cells at every SF), so the file is
  * always in lockstep with the data it will replay against.
  *
  * Usage: ShardedOracles <sfDir> <outJson> [query,query,...]
  *
  * Env: GRAFT_SHARD_ITERS (default 16) — unroll depth for the
  * dedup_embed min-label propagation mirror. The emitted SQL carries a
  * fixpoint certificate (DuckDB `error()` unless the last two rounds
  * are identical), so a too-small value errors the replay rather than
  * passing silently; raise it here for a denser surrogate.
  */
object ShardedOracles {

  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outJson = args(1)
    val registry = graft.queries.EmbedQueries.shardedOracleSql
    val wanted =
      if (args.length > 2) args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else registry.keys.toSeq.sorted
    val unknown = wanted.filterNot(registry.contains)
    require(unknown.isEmpty, s"not shardable: ${unknown.mkString(",")}")

    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val labels = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("label").distinct().collect().map(_.getInt(0).toLong).sorted
    require(labels.nonEmpty, s"no labels in $sfDir/embeddings.parquet")
    spark.stop()

    val body = wanted.map { name =>
      val so = registry(name)
      val shards = labels.map(l => s"${q(l.toString)}: ${q(so.shardSql(l))}")
        .mkString("{", ",", "}")
      s"${q(name)}: {${q("slice")}: ${q(so.sliceSql)}, ${q("shards")}: $shards}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(outJson), body)
    println(s"[sharded-oracles] wrote ${wanted.size} queries x " +
      s"${labels.length} shards to $outJson")
  }
}
