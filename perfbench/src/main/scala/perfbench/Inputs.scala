package perfbench

import java.nio.file.{Files, Path, Paths}

/** Named views of the generated inputs. */
object Inputs {

  /** A symbolic link `work/aliases/<name>` to the input directory `sub`.
    * The program memoizes per directory name, so a fresh name gives
    * fresh (uncached) work over the same files. */
  def alias(ctx: Ctx, sub: String, name: String): String = {
    val dir = Paths.get(ctx.cfg.work, "aliases")
    Files.createDirectories(dir)
    val link: Path = dir.resolve(name)
    Files.deleteIfExists(link)
    Files.createSymbolicLink(link, Paths.get(ctx.cfg.inputs, sub).toAbsolutePath)
    link.toString
  }
}
