package perfbench

/** Engine side of the benchmark: `perfbench.Main <mode> --key value ...`
  * with mode `batch_pack`, `wire_spread`, `replay_chain`, or `oracle_sql`
  * (writes batch_pack's query list and `SparkEntry.oracleSql` as JSON
  * into the `--out` directory). */
object Main {
  def main(args: Array[String]): Unit = {
    val rest = args.toSeq.tail
    args.head match {
      case "batch_pack"   => BatchPack.run(new Opts(rest))
      case "wire_spread"  => WireSpread.run(new Opts(rest))
      case "replay_chain" => ReplayChain.run(new Opts(rest))
      case "oracle_sql"   => Json.write(s"${rest(1)}/oracle_sql.json",
        Map("batch_pack" -> BatchPack.All, "sql" -> graft.SparkEntry.oracleSql))
      case other          => sys.error(s"unknown mode $other")
    }
  }
}
