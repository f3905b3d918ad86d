package graft.config

/** Layered runtime settings (reference config/settings.py `Config` +
  * utils.py:524 `safe_get_env`): store paths, publish options, and
  * processing knobs resolve through a fixed precedence chain —
  *
  *   explicit overrides > environment > config file > built-in defaults
  *
  * — the same order the reference applies (constructor kwargs over
  * `os.getenv` over `.env` file over dataclass defaults). The config
  * file is the reference's dotenv shape: `key=value` lines, `#`
  * comments, blank lines ignored; keys are the canonical dotted
  * names (`dump.base`) or their env spelling (`GRAFT_DUMP_BASE`) —
  * both normalize to the dotted form.
  *
  * Leak-safety by construction: every environment name is derived
  * from the dotted key under the engine's own `GRAFT_` prefix
  * (`dump.base` ⇄ `GRAFT_DUMP_BASE`); no environment name from any
  * external or proprietary system appears anywhere, and the env map
  * is an injected parameter (tests never touch the real
  * environment). Values whose key smells like a secret are masked by
  * [[Settings.rendered]] — the RunLog redaction convention applied
  * at the settings layer.
  */
final case class Settings(values: Map[String, String]) {

  def get(key: String): Option[String] = values.get(key)

  /** Resolved value; a key absent from every layer (i.e. not even a
    * default) is a programming error surfaced as ConfigError.
    */
  def apply(key: String): String =
    values.getOrElse(key, throw new graft.ConfigError(
      s"no setting '$key' in any layer", Map("stage" -> "settings")))

  /** Integer setting; a non-numeric value names the key in the error
    * (reference: `int(os.getenv(...))` raising ValueError).
    */
  def int(key: String): Int = {
    val v = apply(key)
    try v.trim.toInt
    catch {
      case _: NumberFormatException => throw new graft.ConfigError(
        s"setting '$key' must be an integer, got '$v'", Map("stage" -> "settings"))
    }
  }

  /** All values with secret-shaped keys masked — safe to log. */
  def rendered: String =
    values.toSeq.sortBy(_._1).map { case (k, v) =>
      val lower = k.toLowerCase
      val masked =
        if (Settings.secretMarkers.exists(lower.contains)) "****" else v
      s"$k=$masked"
    }.mkString("\n")
}

object Settings {

  private[config] val secretMarkers = Seq("password", "secret", "token", "key_id", "credential")

  /** Built-in defaults (reference dataclass defaults) for the keys
    * the Cli reads: auto publish and the fixed metadata date.
    */
  val defaults: Map[String, String] = Map(
    "publish.mode" -> "auto",
    "publish.date" -> "1970-01-01T00:00:00"
  )

  /** `dump.base` → `GRAFT_DUMP_BASE`. */
  def envKey(key: String): String =
    "GRAFT_" + key.toUpperCase.replace('.', '_')

  /** `GRAFT_DUMP_BASE` → `dump.base`; non-GRAFT names pass through
    * lowercased-dotted only if already dotted.
    */
  private def normalize(key: String): String = {
    val k = key.trim
    if (k.startsWith("GRAFT_")) k.stripPrefix("GRAFT_").toLowerCase.replace('_', '.')
    else k
  }

  /** Parse a dotenv-shaped config file: `key=value`, `#` comments.
    * A non-comment line without `=` is a ConfigError naming the line
    * (fail fast, not silent skip — a typoed override that silently
    * vanishes is the failure mode this layer exists to prevent).
    */
  def parseFile(text: String, origin: String = "<config>"): Map[String, String] =
    text.linesIterator.zipWithIndex.flatMap { case (raw, i) =>
      val line = raw.trim
      if (line.isEmpty || line.startsWith("#")) None
      else line.indexOf('=') match {
        case -1 => throw new graft.ConfigError(
          s"malformed settings line ${i + 1}: '$line' (expected key=value)",
          Map("stage" -> "settings", "file" -> origin))
        case eq => Some(normalize(line.substring(0, eq)) -> line.substring(eq + 1).trim)
      }
    }.toMap

  /** Resolve the full chain. `env` is injected (callers pass
    * `sys.env`; tests pass maps) and filtered to the GRAFT_ prefix so
    * unrelated environment content can never leak into settings.
    */
  def load(
      configText: Option[String] = None,
      env: Map[String, String] = Map.empty,
      overrides: Map[String, String] = Map.empty
  ): Settings = {
    val fromFile = configText.map(parseFile(_)).getOrElse(Map.empty)
    val fromEnv = env.collect {
      case (k, v) if k.startsWith("GRAFT_") => normalize(k) -> v
    }
    val fromOverrides = overrides.map { case (k, v) => normalize(k) -> v }
    Settings(defaults ++ fromFile ++ fromEnv ++ fromOverrides)
  }

  /** Load with the file read from disk (CLI `--settings=path`). */
  def loadFile(
      path: String,
      env: Map[String, String] = Map.empty,
      overrides: Map[String, String] = Map.empty
  ): Settings = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isReadable(p))
      throw new graft.ConfigError(
        s"settings file not readable: $path",
        Map("stage" -> "settings", "file" -> path))
    val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    load(Some(text), env, overrides)
  }
}
