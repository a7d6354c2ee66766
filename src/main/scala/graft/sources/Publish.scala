package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** THE crash-safe publish for every in-place rewrite of part of an
  * on-disk layout, whose crash recovery is the same code as its
  * normal path:
  *  1. the new children are written to one staging dir beside the
  *     layout (`<dir>.publish-tmp`), each under its own child name;
  *  1. a manifest (`<dir>/_coalesce_manifest`, written to a temp file
  *     and renamed, so it is complete or absent) lists each output
  *     with the children it replaces — `new:old,…`, or the
  *     retire-only `-:old,…` when the output was not staged (a group
  *     that wrote no rows, or a log the rewrite folded in);
  *  1. the repair applies the manifest: every output still staged
  *     renames into the layout (a same-name child is deleted just
  *     before), then each line's sources are deleted — only when its
  *     output is in the layout or the line is retire-only — then the
  *     manifest and the staging dir go.
  *
  * Every maintenance call of a layout runs [[repair]] first, so an
  * interrupted publish of any kind is finished (rolled forward) by the
  * next call of any kind — and a call that writes into the layout
  * (an append, a tombstone) never lands a child that a half-finished
  * publish would then delete. A publish that died before its manifest
  * landed left the layout untouched. A manifest line this code did not
  * write is refused loudly and nothing moves.
  *
  * A layout supplies only its naming: `dir` (the layout root), `child`
  * (a manifest token → its child name, under the root and under the
  * staging dir alike) and `accepts` (the tokens the layout holds). The
  * sorted CDX layout maps digit ids to `shard=<id>`
  * ([[Warc.compactCdxShards]] and its siblings); the IVF-PQ index
  * publishes `postings`, `list_stats` and retires `tombstones`
  * ([[graft.similarity.SimilaritySearch.compactIvfPqIndex]]); the
  * MinHash index `bands`, `shingles` and `tombstones`
  * ([[graft.dedup.Dedup.compactMinhashIndex]]); a compacted parquet
  * table is the one child of its parent ([[Sinks.compactParquet]]).
  */
private[graft] final case class Publish(dir: String, child: String => String,
                                        accepts: String => Boolean) {
  /** Where a publish's outputs are written before its manifest lands. */
  val staging: Path = new Path(dir + ".publish-tmp")
  private val root = new Path(dir)
  // inside the layout, underscore-named so parquet discovery ignores it
  private val manifest = new Path(dir, "_coalesce_manifest")

  private def fileSystem(spark: SparkSession): FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // the grammar's separators can never sit inside a token
  private def isToken(t: String) =
    t != "-" && !t.exists(c => c == ':' || c == ',') && accepts(t)

  /** Publish what is staged: write the manifest of `replaces` (output
    * token → the tokens it replaces; an output the staging dir does not
    * hold becomes a retire-only `-:` line), then apply it with the
    * repair.
    */
  def publish(spark: SparkSession, replaces: Seq[(String, Seq[String])]): Unit = {
    require(replaces.forall { case (o, srcs) => (o +: srcs).forall(isToken) },
      s"publish: a token outside the layout of $dir in $replaces")
    val fs = fileSystem(spark)
    val staged = fs.listStatus(staging).map(_.getPath.getName).toSet
    val text = replaces.map { case (o, srcs) =>
      val head = if (staged(child(o))) o else "-"
      s"$head:${srcs.mkString(",")}"
    }.mkString("\n")
    // write-temp-then-rename: a reader (or a crash) sees either a
    // complete manifest or none — a half-written line would make the
    // repair delete sources whose replacement never landed
    val mTmp = new Path(dir, manifest.getName + ".tmp")
    val w = fs.create(mTmp, true)
    try w.write(text.getBytes("UTF-8")) finally w.close()
    fs.delete(manifest, false)
    if (!fs.rename(mTmp, manifest)) throw new java.io.IOException(
      s"publish: failed to write manifest $mTmp -> $manifest")
    repair(spark)
  }

  /** Apply the manifest, rolling the publish forward. Idempotent; a
    * no-op without a manifest. Every line is validated before anything
    * moves. Returns whether a manifest was applied (the layout changed,
    * so a caller holding catalog state over it rebinds).
    */
  def repair(spark: SparkSession): Boolean = {
    val fs = fileSystem(spark)
    if (!fs.exists(manifest)) return false
    val buf = new Array[Byte](fs.getFileStatus(manifest).getLen.toInt)
    val in = fs.open(manifest)
    try in.readFully(0, buf) finally in.close()
    // validate before acting: a malformed line means the manifest is
    // not ours (or corrupt) — deleting children on its say-so would
    // destroy data, so fail with the offending content instead
    val lines = new String(buf, "UTF-8").split("\n").filter(_.nonEmpty).map { line =>
      line.split(":", 2) match {
        case Array(o, srcs) if (o == "-" || isToken(o)) &&
            srcs.split(",").forall(isToken) =>
          (Some(o).filter(_ != "-"), srcs.split(",").toSeq)
        case _ => throw new IllegalStateException(
          s"repairPublish: malformed manifest line '$line' in $manifest — " +
            "refusing to repair from a manifest this code did not write")
      }
    }
    // roll forward: every output still staged moves in — a same-name
    // source leaves just before its replacement lands
    lines.flatMap(_._1).foreach { o =>
      val src = new Path(staging, child(o))
      if (fs.exists(src)) {
        val dst = new Path(root, child(o))
        fs.delete(dst, true)
        if (!fs.rename(src, dst)) throw new java.io.IOException(
          s"repairPublish: failed to publish $src -> $dst")
      }
    }
    // then the sources leave: only once their replacement is in the
    // layout, or when the line says there is no output
    lines.foreach { case (o, srcs) =>
      if (o.forall(t => fs.exists(new Path(root, child(t)))))
        srcs.filterNot(o.contains).foreach(t => fs.delete(new Path(root, child(t)), true))
    }
    fs.delete(staging, true)
    fs.delete(manifest, false)
    true
  }
}

private[graft] object Publish {
  /** A layout whose tokens are a fixed set of child names. */
  def named(dir: String, children: String*): Publish =
    Publish(dir, identity, children.toSet)
}
