package perfbench

import java.nio.file.{Files, Paths}

/** Writes `SparkEntry.oracleSql` for the named queries as one JSON object,
  * for perfbench/pin_oracle.py. Usage: DumpOracle <out.json> <name>...
  */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val picked = args.drop(1).map(n => n -> sql.getOrElse(n, sys.error(s"no oracle for $n"))).toMap
    Files.write(Paths.get(args(0)), Json.write(picked).getBytes("UTF-8"))
  }
}
