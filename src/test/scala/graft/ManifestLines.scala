package graft

import java.nio.file.{Files, Paths}

import graft.sources.TextCorpus

/** An independent (doc_id, text) reading of a manifest corpus, for
  * specs that check the graft-corpus connector's rows: each listed
  * file is read whole with java.nio and split on '\n', one trailing
  * '\r' is stripped per line, and a final newline adds no empty line. */
object ManifestLines {
  def apply(manifest: String): Seq[(Long, String)] =
    TextCorpus.manifestEntries(manifest).flatMap { case (path, id) =>
      val parts = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
        .split("\n", -1).toSeq
      (if (parts.last.isEmpty) parts.init else parts)
        .map(line => id -> line.stripSuffix("\r"))
    }
}
