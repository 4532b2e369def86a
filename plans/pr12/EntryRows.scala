// Prints the full result of chosen SparkEntry queries (named by prefix: q26
// is q26_ewma) as sorted text rows, doubles in Double.toString form (exact
// repr), so two trees' outputs can be compared with diff. One file per scale factor: <out>/<sf name>.txt,
// with a "== <query> <rows>" header above each query's rows.
//
// Not part of the sbt build. From the repository root:
//   classes=$(python3 perfbench/build.py)
//   java -cp "$SPARK_HOME/jars/*:$classes" scala.tools.nsc.Main -usejavacp -d /tmp/er plans/pr12/EntryRows.scala
//   java <build.sbt's --add-opens> -Duser.timezone=UTC -Dspark.sql.session.timeZone=UTC \
//     -cp "/tmp/er:$classes:$SPARK_HOME/jars/*" EntryRows <out> <query prefixes, comma separated> <sf_dir>...
// Run it on both trees and diff the two <out> directories.
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import graft.{GraftSession, SparkEntry}

object EntryRows {
  private def show(v: Any): String = v match {
    case null => "null"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case r: Row => r.toSeq.map(show).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(show).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => show(k) + "->" + show(x) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case x => x.toString
  }

  def main(args: Array[String]): Unit = {
    val out = args(0)
    val prefixes = args(1).split(",").toSeq
    val names = prefixes.flatMap { p =>
      val hit = SparkEntry.queries.keys.filter(k => k == p || k.startsWith(p + "_")).toSeq
      require(hit.size == 1, s"query prefix $p matches ${hit.sorted}")
      hit
    }
    val sfDirs = args.drop(2).toSeq
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(out))
    sfDirs.foreach { sf =>
      val sb = new StringBuilder
      names.foreach { name =>
        val rows = SparkEntry.queries(name)(spark, sf).collect()
          .map(r => r.toSeq.map(show).mkString("|")).sorted
        sb ++= s"== $name ${rows.length}\n"
        rows.foreach(r => sb ++= r ++= "\n")
        println(s"[entry-rows] ${Paths.get(sf).getFileName} $name ${rows.length}")
      }
      Files.writeString(Paths.get(out, s"${Paths.get(sf).getFileName}.txt"), sb.toString)
    }
    spark.stop()
  }
}
