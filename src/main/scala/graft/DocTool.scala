package graft

/** Generated engine documentation — the reference DocTool idea
  * (cli/src/main/scala/DocTool.scala generates configuration docs from
  * the live config model so docs cannot drift from code) applied to
  * graft's code models: the native SQL function registry and the
  * per-domain query registries. Writes `DOCS.md`.
  *
  * Run: `sbt "runMain graft.DocTool"` */
object DocTool {

  def render(): String = {
    val sb = new StringBuilder
    sb.append("# graft — generated reference (graft.DocTool; do not edit)\n\n")

    sb.append("## Native SQL functions\n\n")
    sb.append("Registered by `GraftFunctions.register(spark)` or the\n")
    sb.append("`spark.sql.extensions=graft.functions.GraftExtensions` entry point;\n")
    sb.append("all codegen'd Catalyst expressions (no UDFs).\n\n")
    sb.append("| function | usage |\n|---|---|\n")
    graft.functions.GraftFunctions.builders.sortBy(_._1).foreach {
      case (name, usage, _) =>
        sb.append(s"| `$name` | ${usage.replace("|", "\\|")} |\n")
    }

    sb.append("\n## Query registries\n\n")
    sb.append("| registry | queries | names |\n|---|---|---|\n")
    SparkEntry.registries.foreach { case (name, qs, _) =>
      sb.append(s"| $name | ${qs.size} | ${qs.keys.toSeq.sorted.mkString(", ")} |\n")
    }
    sb.append(s"\nTotal: ${SparkEntry.queries.size} queries, every one paired " +
      "with a DuckDB oracle (enforced by RegistryConsistencySpec).\n")
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "DOCS.md"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), render())
    println(s"wrote $out")
  }
}
