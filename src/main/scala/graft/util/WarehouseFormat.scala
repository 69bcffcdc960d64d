package graft.util

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** The warehouse's on-disk format stamp: one small text file,
  * `<warehouse>/_format`, holding [[Current]]. The engine reads exactly
  * one layout — the one the current code writes — so a warehouse either
  * carries this stamp or is refused before anything is read or written.
  *
  * [[open]] runs once per `Library` / `TaxonomyStore` instance: an
  * absent or empty warehouse is being created and gets stamped; a
  * stamped one opens; anything else (tables but no stamp, or a stamp
  * naming another format) throws [[UnsupportedFormatException]] and
  * leaves the directory untouched. The underscore keeps the file out of
  * every table listing and out of Spark's partition discovery. */
object WarehouseFormat {

  /** The one format this engine writes and reads. */
  val Current = "pdfbrainspark-warehouse-1"

  private val FileName = "_format"

  final class UnsupportedFormatException(msg: String)
    extends IllegalStateException(msg)

  /** Stamp `warehouse` if it is absent or empty, accept it if it carries
    * [[Current]], refuse it otherwise. */
  def open(fs: FileSystem, warehouse: String): Unit = {
    val root = new HPath(warehouse)
    val found = read(fs, root)
    if (found.contains(Current)) ()
    else if (found.isEmpty && (!fs.exists(root) || fs.listStatus(root).isEmpty))
      stamp(fs, warehouse)
    else throw new UnsupportedFormatException(
      s"warehouse $warehouse has format ${found.getOrElse("<none: no _format stamp>")}" +
        s"; this engine reads only $Current. Re-create the warehouse by " +
        "re-ingesting its documents into an empty directory.")
  }

  /** Write the [[Current]] stamp — for a caller that created the
    * warehouse's tables itself in the current layout. */
  def stamp(fs: FileSystem, warehouse: String): Unit = {
    val out = fs.create(new HPath(warehouse, FileName), true)
    try out.write(Current.getBytes("UTF-8")) finally out.close()
  }

  private def read(fs: FileSystem, root: HPath): Option[String] = {
    val f = new HPath(root, FileName)
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try Some(new String(in.readAllBytes(), "UTF-8").trim) finally in.close()
    }
  }
}
