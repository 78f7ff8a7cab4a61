package graft

import java.nio.file.{Files, Paths}

import javax.xml.stream.{XMLEventFactory, XMLInputFactory, XMLOutputFactory}
import javax.xml.stream.events.Namespace

import graft.sources.Xml
import graft.sources.Xml.PathStep

/** Driver-side reference reader for `Xml.readXmlNodePath`: a StAX event
  * scan with the same node-path grammar (`Xml.parseNodePath`), which
  * re-serializes every subtree at the path with the ancestor namespace
  * bindings the record element doesn't redeclare added to it. Tests
  * compare the byte scanner's records against it; a malformed document
  * fails here with the StAX parser's error.
  */
object StaxOracle {
  private def inputFactory(): XMLInputFactory = {
    val xif = XMLInputFactory.newInstance()
    xif.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    xif.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    xif.setProperty(XMLInputFactory.IS_COALESCING, true)
    xif
  }

  /** Every record at `nodePath` in the `.xml` files of `dir`, in file
    * (name) order, then document order. */
  def records(dir: String, nodePath: String,
      ns: Map[String, String] = Map.empty): Seq[String] = {
    val path = Xml.parseNodePath(nodePath, ns)
    val listing = Files.list(Paths.get(dir))
    val files =
      try listing.toArray.map(_.toString).filter(_.endsWith(".xml")).sorted.toSeq
      finally listing.close()
    val xif = inputFactory()
    val xof = XMLOutputFactory.newInstance()
    val xef = XMLEventFactory.newInstance()
    files.flatMap(f => staxRecords(f, path, xif, xof, xef))
  }

  /** The key attribute of a record snippet's element and the namespace
    * bindings in scope on it (prefix → URI, "" = default), as a
    * namespace-aware parser reads the snippet on its own. */
  def keyAndScope(snippet: String): (String, Map[String, String]) = {
    val reader = inputFactory().createXMLEventReader(new java.io.StringReader(snippet))
    try {
      var ev = reader.nextEvent()
      while (!ev.isStartElement) ev = reader.nextEvent()
      val se = ev.asStartElement
      val key = se.getAttributeByName(new javax.xml.namespace.QName("key"))
      var scope = Map.empty[String, String]
      val it = se.getNamespaces
      while (it.hasNext) {
        val n = it.next().asInstanceOf[Namespace]
        scope += (Option(n.getPrefix).getOrElse("") -> n.getNamespaceURI)
      }
      (if (key == null) null else key.getValue, scope)
    } finally reader.close()
  }

  /** The StAX scan of one file: every subtree at `path`, re-serialized. */
  private def staxRecords(file: String, path: Seq[PathStep],
      xif: XMLInputFactory, xof: XMLOutputFactory,
      xef: XMLEventFactory): List[String] = {
    val in = Files.newInputStream(Paths.get(file))
    try {
      val reader = xif.createXMLEventReader(in, "UTF-8")
      val stack = scala.collection.mutable.ArrayBuffer.empty[String]
      // okStack(i) = levels 1..i+1 all match the path prefix (names AND
      // attribute predicates) — predicates are a start-tag property, so
      // each level's verdict is final at push time and ancestors'
      // verdicts are simply carried down the stack.
      val okStack = scala.collection.mutable.ArrayBuffer.empty[Boolean]
      // nsStack(i) = CUMULATIVE in-scope namespace bindings (prefix →
      // URI, "" = default) at depth i+1 — the ancestor context a
      // captured subtree would lose at re-serialization: missing
      // bindings are re-injected onto the record start element.
      val nsStack = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var sw: java.io.StringWriter = null
      var writer: javax.xml.stream.XMLEventWriter = null
      var captureDepth = -1
      while (reader.hasNext) {
        val ev = reader.nextEvent()
        if (ev.isStartElement) {
          val se = ev.asStartElement
          stack += se.getName.getLocalPart
          val declared = {
            var m = Map.empty[String, String]
            val it = se.getNamespaces
            while (it.hasNext) {
              val n = it.next().asInstanceOf[Namespace]
              m += (Option(n.getPrefix).getOrElse("") -> n.getNamespaceURI)
            }
            m
          }
          val parentNs =
            if (nsStack.isEmpty) Map.empty[String, String] else nsStack.last
          nsStack += (parentNs ++ declared)
          val depth = stack.size
          val ok = (depth == 1 || okStack(depth - 2)) &&
            depth <= path.size && {
              val step = path(depth - 1)
              step.name == stack(depth - 1) &&
                step.nsUri.forall(u => se.getName.getNamespaceURI == u) &&
                step.pred.forall { case (a, v) =>
                  val attr = se.getAttributeByName(
                    new javax.xml.namespace.QName(a))
                  attr != null && attr.getValue == v
                }
            }
          okStack += ok
          var evOut: javax.xml.stream.events.XMLEvent = ev
          if (captureDepth < 0 && depth == path.size && ok) {
            captureDepth = stack.size
            sw = new java.io.StringWriter()
            writer = xof.createXMLEventWriter(sw)
            // re-inject ancestor bindings the record doesn't redeclare
            val missing = parentNs.filterNot { case (p, _) => declared.contains(p) }
            if (missing.nonEmpty) {
              val nss = new java.util.ArrayList[Namespace]()
              val it = se.getNamespaces
              while (it.hasNext) nss.add(it.next().asInstanceOf[Namespace])
              missing.toSeq.sorted.foreach { case (p, u) =>
                nss.add(if (p.isEmpty) xef.createNamespace(u)
                        else xef.createNamespace(p, u))
              }
              evOut = xef.createStartElement(
                se.getName, se.getAttributes, nss.iterator())
            }
          }
          if (captureDepth > 0) writer.add(evOut)
        } else if (ev.isEndElement) {
          if (captureDepth > 0) {
            writer.add(ev)
            if (stack.size == captureDepth) {
              writer.close()
              out += sw.toString
              captureDepth = -1
            }
          }
          stack.remove(stack.size - 1)
          okStack.remove(okStack.size - 1)
          nsStack.remove(nsStack.size - 1)
        } else if (captureDepth > 0 && (ev.isCharacters ||
            ev.getEventType == javax.xml.stream.XMLStreamConstants.CDATA ||
            ev.getEventType == javax.xml.stream.XMLStreamConstants.COMMENT ||
            ev.getEventType ==
              javax.xml.stream.XMLStreamConstants.PROCESSING_INSTRUCTION)) {
          // Comments and PIs inside a record are part of the subtree —
          // forward them so snippets stay faithful to the source.
          writer.add(ev)
        }
      }
      out.toList
    } finally in.close()
  }
}
