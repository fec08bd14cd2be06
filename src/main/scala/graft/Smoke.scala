package graft
/** Local replica of the driver's smoke check: `SparkEntry.entry` on
  * sf0.001 must return >0 rows. Usage: tools/run.sh graft.Smoke [sfDir]
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession(defaultCpus = 4, logLevel = "WARN")
    require(sfDir.startsWith("/root/testdata/"), s"unexpected sfDir $sfDir")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"SMOKE rows=$n")
    df.show(10, truncate = false)
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
