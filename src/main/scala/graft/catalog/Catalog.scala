package graft.catalog

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.concurrent.TrieMap

/** A modeled variable of a population (reference: bayesdb_variable,
  * src/schema.py:105-117). Manifest variables map to base-table columns
  * (colno >= 0); latent variables exist only inside a generator
  * (colno < 0; reference: src/core.py:398-414). */
final case class Variable(
    name: String,
    colno: Int,
    stattype: StatType,
    generatorId: Option[Int] = None) {
  def isLatent: Boolean = colno < 0
}

/** A population: named set of modeled variables over a base table
  * (reference: bayesdb_population, src/schema.py:81-103). */
final case class Population(
    id: Int,
    name: String,
    table: String,
    variables: Seq[Variable]) {
  def variable(name: String): Option[Variable] = {
    val n = Names.casefold(name)
    variables.find(v => Names.casefold(v.name) == n)
  }
  def modeledVariables: Seq[Variable] = variables.filter(v => StatType.isModeled(v.stattype))
}

/** A generator: a generative model attached to a population, dispatched
  * by backend name (reference: bayesdb_generator, src/schema.py:119-135). */
final case class Generator(
    id: Int,
    name: String,
    populationId: Int,
    backend: String,
    schemaAst: Seq[Seq[String]] = Nil)

/** Name handling matching the reference's casefold (upper().lower(),
  * src/util.py:77-79) and identifier quoting (src/quote.py). */
object Names {
  def casefold(s: String): String = s.toUpperCase.toLowerCase
}

/** In-memory metadata catalog replacing the reference's seven SQLite
  * metadata tables + triggers (src/schema.py:26-148). Thread-safe;
  * model state itself lives with the backend (broadcast to executors
  * at query time), only identity lives here.
  *
  * The reference's transactional metadata cache (src/txn.py) has no
  * Spark equivalent: data tables are immutable DataFrames, so rollback
  * semantics reduce to dropping references — a documented divergence.
  */
final class Catalog extends Serializable {
  private val populations = TrieMap.empty[String, Population]
  private val generators = TrieMap.empty[String, Generator]
  // generator id -> model numbers initialized
  private val models = TrieMap.empty[Int, Seq[Int]]
  private val nextPopId = new AtomicInteger(1)
  private val nextGenId = new AtomicInteger(1)

  def createPopulation(name: String, table: String, vars: Seq[Variable]): Population = {
    val key = Names.casefold(name)
    require(!populations.contains(key), s"Population already exists: $name")
    require(vars.nonEmpty, s"Population must model at least one variable: $name")
    val pop = Population(nextPopId.getAndIncrement(), name, table, vars)
    populations(key) = pop
    pop
  }

  def population(name: String): Option[Population] =
    populations.get(Names.casefold(name))

  def dropPopulation(name: String): Unit = {
    val key = Names.casefold(name)
    val pop = populations.getOrElse(key,
      throw new NoSuchElementException(s"No such population: $name"))
    val attached = generators.values.filter(_.populationId == pop.id)
    require(attached.isEmpty,
      s"Population $name still has generators: ${attached.map(_.name).mkString(", ")}")
    populations.remove(key)
    ()
  }

  def createGenerator(name: String, populationName: String, backend: String,
      schemaAst: Seq[Seq[String]] = Nil): Generator = {
    val key = Names.casefold(name)
    require(!generators.contains(key), s"Generator already exists: $name")
    val pop = population(populationName).getOrElse(
      throw new NoSuchElementException(s"No such population: $populationName"))
    val gen = Generator(nextGenId.getAndIncrement(), name, pop.id, Names.casefold(backend), schemaAst)
    generators(key) = gen
    gen
  }

  def generator(name: String): Option[Generator] =
    generators.get(Names.casefold(name))

  def generatorsOf(populationName: String): Seq[Generator] =
    population(populationName).toSeq.flatMap(p =>
      generators.values.filter(_.populationId == p.id).toSeq.sortBy(_.id))

  /** ALTER GENERATOR g RENAME TO h (reference: src/bql.py generator
    * rename). The id — and thus model numbering and latent-variable
    * ownership — is unchanged. */
  def renameGenerator(oldName: String, newName: String): Unit = {
    val oldKey = Names.casefold(oldName)
    val newKey = Names.casefold(newName)
    val gen = generators.getOrElse(oldKey,
      throw new NoSuchElementException(s"No such generator: $oldName"))
    require(!generators.contains(newKey), s"Generator already exists: $newName")
    generators.remove(oldKey)
    generators(newKey) = gen.copy(name = newName)
    ()
  }

  def dropGenerator(name: String): Unit = {
    val key = Names.casefold(name)
    val gen = generators.getOrElse(key,
      throw new NoSuchElementException(s"No such generator: $name"))
    models.remove(gen.id)
    generators.remove(key)
    ()
  }

  def initializeModels(generatorName: String, n: Int): Seq[Int] = {
    val gen = generator(generatorName).getOrElse(
      throw new NoSuchElementException(s"No such generator: $generatorName"))
    val existing = models.getOrElse(gen.id, Nil)
    val fresh = (0 until n).filterNot(existing.contains)
    models(gen.id) = (existing ++ fresh).sorted
    models(gen.id)
  }

  def modelNumbers(generatorName: String): Seq[Int] =
    generator(generatorName).flatMap(g => models.get(g.id)).getOrElse(Nil)

  def dropModels(generatorName: String, which: Option[Seq[Int]] = None): Unit = {
    val gen = generator(generatorName).getOrElse(
      throw new NoSuchElementException(s"No such generator: $generatorName"))
    which match {
      case None => models.remove(gen.id)
      case Some(ns) => models.updateWith(gen.id)(_.map(_.filterNot(ns.contains)))
    }
    ()
  }

  def populationNames: Seq[String] = populations.values.map(_.name).toSeq.sorted

  /** Attach latent variables (colno < 0) to a population on behalf of a
    * generator (reference: bayesdb_add_latent, src/core.py:398-414). No
    * attached-generator guard: latents are created BY generators. */
  def addLatentVariables(popName: String, vars: Seq[Variable]): Population = {
    val key = Names.casefold(popName)
    val pop = populations.getOrElse(key,
      throw new NoSuchElementException(s"No such population: $popName"))
    require(vars.forall(_.isLatent), "addLatentVariables takes latent (colno<0) vars")
    vars.foreach(v => require(pop.variable(v.name).isEmpty,
      s"Variable already exists: ${v.name}"))
    val updated = pop.copy(variables = pop.variables ++ vars)
    populations(key) = updated
    updated
  }

  /** ALTER POPULATION ... RENAME TO (reference: src/bql.py:929-947). */
  def renamePopulation(oldName: String, newName: String): Unit = {
    val oldKey = Names.casefold(oldName)
    val newKey = Names.casefold(newName)
    val pop = populations.getOrElse(oldKey,
      throw new NoSuchElementException(s"No such population: $oldName"))
    require(!populations.contains(newKey), s"Population already exists: $newName")
    populations.remove(oldKey)
    populations(newKey) = pop.copy(name = newName)
    ()
  }

  /** Copy-on-write snapshot for BEGIN … ROLLBACK (reference: the
    * transactional metadata cache, src/txn.py:27-121). All entries are
    * immutable case classes, so copying the maps and counters is a full
    * snapshot; restoring means adopting the copied instance. */
  def snapshot(): Catalog = {
    val c = new Catalog
    c.populations ++= populations
    c.generators ++= generators
    c.models ++= models
    c.nextPopId.set(nextPopId.get())
    c.nextGenId.set(nextGenId.get())
    c
  }

  /** Replace a population's variable list in place (ALTER POPULATION
    * ADD VARIABLE / SET STATTYPE). Refuses while generators are attached
    * — fitted states would silently diverge from the metadata. */
  def updateVariables(popName: String, vars: Seq[Variable]): Population = {
    val key = Names.casefold(popName)
    val pop = populations.getOrElse(key,
      throw new NoSuchElementException(s"No such population: $popName"))
    val attached = generators.values.filter(_.populationId == pop.id)
    require(attached.isEmpty,
      s"Cannot alter population $popName with generators attached: " +
        attached.map(_.name).mkString(", "))
    val updated = pop.copy(variables = vars)
    populations(key) = updated
    updated
  }
}
