package graft.sources

import OpcuaFraming._

/** OPC UA Part 4 session + subscription services in Part 6 binary over
  * the [[OpcuaFraming]] secure channel — the service layer the
  * reference's client drives (`Helpers/OpcuaHelperFunctions.cs:72-136`
  * session create, `Services/OpcSubscribeService.cs:218-244` monitored
  * items, `:522-598` notification handling), implemented from the
  * published spec with no library:
  *
  *  - CreateSession / ActivateSession (anonymous identity token as an
  *    ExtensionObject) / CloseSession,
  *  - Read (ReadValueId → DataValue),
  *  - CreateSubscription / CreateMonitoredItems (ReadValueId +
  *    MonitoringParameters incl. the reference's QueueSize/DiscardOldest)
  *    / Publish (NotificationMessage → DataChangeNotification →
  *    MonitoredItemNotification per item),
  *  - the composite encodings they need: generic NodeIds (two-byte /
  *    four-byte / numeric / string forms), LocalizedText, QualifiedName,
  *    ExtensionObject, Variant (scalar Double), DataValue with
  *    value/status/sourceTimestamp mask.
  *
  * Monitored items address feed points as string NodeIds
  * `ns=2;s=<device>/<measure>`; Publish delivers every value the feed
  * appended since the last publish for the subscribed items, per-item
  * bounded by QueueSize with DiscardOldest — the reference's T6 queue
  * semantics expressed on the wire. Simplifications, stated: the server
  * returns a null ServerEndpoints array from CreateSession (no
  * GetEndpoints discovery — the client already holds the endpoint, as
  * the reference does after its own discovery), signatures/certificates
  * are null ByteStrings (SecurityPolicy None), and sessions live with
  * their connection.
  */
object OpcuaSession {

  // ns-0 numeric ids of the binary-encoded service structs (NodeIds CSV)
  val CreateSessionRequestId = 461
  val CreateSessionResponseId = 464
  val ActivateSessionRequestId = 467
  val ActivateSessionResponseId = 470
  val CloseSessionRequestId = 473
  val CloseSessionResponseId = 476
  val ReadRequestId = 631
  val ReadResponseId = 634
  val CreateSubscriptionRequestId = 787
  val CreateSubscriptionResponseId = 790
  val CreateMonitoredItemsRequestId = 751
  val CreateMonitoredItemsResponseId = 754
  val DeleteMonitoredItemsRequestId = 781
  val DeleteMonitoredItemsResponseId = 784
  val DeleteSubscriptionsRequestId = 847
  val DeleteSubscriptionsResponseId = 850
  val PublishRequestId = 826
  val PublishResponseId = 829
  val RepublishRequestId = 832
  val RepublishResponseId = 835
  val GetEndpointsRequestId = 428
  val GetEndpointsResponseId = 431
  val BrowseRequestId = 527
  val BrowseResponseId = 530
  val BrowseNextRequestId = 533
  val BrowseNextResponseId = 536
  val ServiceFaultId = 397
  val AnonymousIdentityTokenId = 321
  val UserNameIdentityTokenId = 324
  val DataChangeNotificationId = 811

  // Part 4 §7.36.4 legacy token secret: password RSA-OAEP-encrypted with
  // the server certificate, the server nonce appended inside the secret
  val RsaOaepUri = "http://www.w3.org/2001/04/xmlenc#rsa-oaep"
  val BadUserAccessDenied = 0x801F0000L
  val BadIdentityTokenInvalid = 0x80200000L
  val BadIdentityTokenRejected = 0x80210000L

  /** Session identity, the reference's `GetUserIdentity` dichotomy
    * (`Services/OpcuaHelperService.cs:280-292`: username+password when
    * both are configured, anonymous otherwise).
    */
  sealed trait SessionIdentity
  case object AnonymousIdentity extends SessionIdentity
  final case class UserPasswordIdentity(user: String, password: String) extends SessionIdentity

  /** The reference's fallback rule, verbatim: user+password only when both
    * are non-empty (`OpcuaHelperService.cs:284`).
    */
  def identityFor(userName: String, password: String): SessionIdentity =
    if (userName != null && userName.nonEmpty && password != null && password.nonEmpty)
      UserPasswordIdentity(userName, password.trim)
    else AnonymousIdentity

  // ns-0 address-space constants the browse surface serves (NodeIds CSV)
  val RootFolderId = 84L
  val ObjectsFolderId = 85L
  val HierarchicalReferencesId = 33L
  val OrganizesId = 35L
  val HasComponentId = 47L
  val FolderTypeId = 61L
  val BaseObjectTypeId = 58L
  val BaseDataVariableTypeId = 63L
  val NodeClassObject = 1L
  val NodeClassVariable = 2L

  // the rest of the MessageSecurityMode enum + the URIs discovery serves
  // (the policies define them — OpcuaFraming None, OpcuaCrypto
  // Basic256Sha256 — and copies here could diverge)
  val SecurityModeSignAndEncrypt: Long = OpcuaCrypto.SecurityModeSignAndEncrypt
  val SecurityPolicyBasic256Sha256Uri: String = OpcuaCrypto.Basic256Sha256Uri
  val TransportProfileBinaryUri = "http://opcfoundation.org/UA-Profile/Transport/uatcp-uasc-uabinary"
  val UserTokenTypeAnonymous = 0L

  /** One discovered endpoint, the fields the reference's selection reads
    * (`Helpers/OpcuaHelperFunctions.cs:104-116`: SecurityMode, then URL +
    * policy for logging).
    */
  final case class EndpointDesc(endpointUrl: String, securityMode: Long,
                                securityPolicyUri: String, transportProfileUri: String,
                                securityLevel: Int, userTokenTypes: Vector[Long],
                                serverCertDer: Array[Byte] = null)

  /** The reference's endpoint choice: the first SecurityMode-None
    * endpoint, or None when the server offers no insecure endpoint
    * (`FirstOrDefault(x => x.SecurityMode == MessageSecurityMode.None)`).
    */
  def selectEndpoint(endpoints: Seq[EndpointDesc]): Option[EndpointDesc] =
    endpoints.find(_.securityMode == SecurityModeNone)

  val AttributeValue = 13L // AttributeId of the Value attribute
  val VariantDouble = 0x0B // built-in type id of Double

  /** Server-revised ceiling on a monitored item's queue. The wire carries
    * QueueSize as UInt32 and clients conventionally send 0xFFFFFFFF for
    * "max" — the server revises it down (Part 4 allows this, and the
    * revised size goes back in the CreateMonitoredItems result) so the
    * per-item queue stays a sane in-memory bound and the Int arithmetic
    * below can never wrap negative.
    */
  val MaxQueueSize = 65536L

  /** Ceiling on outstanding browse continuation points per session — a
    * client that browses wide and never calls BrowseNext must not grow
    * server memory without bound; Part 4 reserves BadNoContinuationPoints
    * for exactly this refusal.
    */
  val MaxContinuationPoints = 64
  val BadSessionIdInvalid = 0x80250000L
  val BadSessionClosed = 0x80260000L
  val BadSubscriptionIdInvalid = 0x80280000L
  val BadMonitoredItemIdInvalid = 0x80420000L
  val BadNodeIdUnknown = 0x80340000L
  val BadAttributeIdInvalid = 0x80350000L
  val BadContinuationPointInvalid = 0x804A0000L
  val BadNoContinuationPoints = 0x804B0000L
  val BadReferenceTypeIdInvalid = 0x804C0000L
  val BadBrowseDirectionInvalid = 0x804D0000L
  val BadMessageNotAvailable = 0x80790000L
  val BadSequenceNumberUnknown = 0x807A0000L

  /** Unacknowledged notification messages retained per subscription for
    * Republish; past the cap the OLDEST retained message drops (a client
    * that never acknowledges cannot grow server memory without bound —
    * its oldest messages become BadMessageNotAvailable, the recovery
    * contract Part 4 §5.13.3 sets out).
    */
  val MaxRetainedNotifications = 64

  /** Generic NodeId (Part 6 §5.2.2.9): numeric or string identifier. */
  final case class NodeIdT(ns: Int, numeric: Long = -1L, string: String = null) {
    def isString: Boolean = string != null
  }
  object NodeIdT {
    val Null: NodeIdT = NodeIdT(0, 0L)
    def point(device: String, measure: String): NodeIdT = NodeIdT(2, string = s"$device/$measure")
  }

  def writeNodeId(w: BufWriter, n: NodeIdT): BufWriter =
    if (n.isString) { w.u8(0x03).u8(n.ns & 0xFF).u8(n.ns >> 8).str(n.string) }
    else if (n.ns == 0 && n.numeric <= 255) w.u8(0x00).u8(n.numeric.toInt)
    else if (n.ns <= 255 && n.numeric <= 65535) {
      w.u8(0x01).u8(n.ns).u8((n.numeric & 0xFF).toInt).u8(((n.numeric >> 8) & 0xFF).toInt)
    } else { w.u8(0x02).u8(n.ns & 0xFF).u8(n.ns >> 8).u32(n.numeric) }

  private def readNodeIdForm(form: Int, r: BufReader): NodeIdT = form match {
    case 0x00 => NodeIdT(0, r.u8())
    case 0x01 => val ns = r.u8(); NodeIdT(ns, r.u8() | (r.u8() << 8))
    case 0x02 => val ns = r.u8() | (r.u8() << 8); NodeIdT(ns, r.u32())
    case 0x03 => val ns = r.u8() | (r.u8() << 8); NodeIdT(ns, string = r.str())
    case m => throw new FramingViolation(f"unsupported NodeId encoding 0x$m%02x")
  }

  def readNodeIdT(r: BufReader): NodeIdT = readNodeIdForm(r.u8(), r)

  /** ExpandedNodeId (Part 6 §5.2.2.10): a NodeId whose encoding byte may
    * carry 0x80 (namespaceUri string follows) and 0x40 (serverIndex). The
    * flagged fields are read and discarded — this address space is
    * single-server with index-addressed namespaces.
    */
  def readExpandedNodeId(r: BufReader): NodeIdT = {
    val b = r.u8()
    val n = readNodeIdForm(b & 0x3F, r)
    if ((b & 0x80) != 0) r.str()
    if ((b & 0x40) != 0) r.u32()
    n
  }

  /** Render a NodeId the way `NodeId.ToString()` does in the reference's
    * jsTree ids (`Helpers/OpcuaBrowse.cs:95`): `i=5`, `ns=2;i=7`,
    * `ns=2;s=dev/measure`.
    */
  def nodeIdString(n: NodeIdT): String =
    if (n.isString) s"ns=${n.ns};s=${n.string}"
    else if (n.ns == 0) s"i=${n.numeric}"
    else s"ns=${n.ns};i=${n.numeric}"

  /** LocalizedText: mask bit0 = locale present, bit1 = text present. */
  def writeLocalizedText(w: BufWriter, text: String): BufWriter =
    if (text == null) w.u8(0x00) else { w.u8(0x02); w.str(text) }
  def readLocalizedText(r: BufReader): String = {
    val mask = r.u8()
    if ((mask & 0x01) != 0) r.str()
    if ((mask & 0x02) != 0) r.str() else null
  }

  def writeQualifiedName(w: BufWriter, ns: Int, name: String): BufWriter = {
    w.u8(ns & 0xFF).u8(ns >> 8).str(name)
  }
  def readQualifiedName(r: BufReader): (Int, String) = {
    val ns = r.u8() | (r.u8() << 8); (ns, r.str())
  }

  /** ExtensionObject: TypeId + encoding byte (0x00 none / 0x01 body). */
  def writeExtensionObject(w: BufWriter, typeId: Int, body: Array[Byte]): BufWriter = {
    writeNodeId(w, NodeIdT(0, typeId))
    if (body == null) w.u8(0x00)
    else { w.u8(0x01); w.i32(body.length); w.raw(body) }
  }
  def writeNullExtensionObject(w: BufWriter): BufWriter = { w.u8(0x00).u8(0x00).u8(0x00); w }
  def readExtensionObject(r: BufReader): (NodeIdT, Array[Byte]) = {
    val id = readNodeIdT(r)
    r.u8() match {
      case 0x00 => (id, null)
      case 0x01 =>
        val len = r.i32()
        if (len > r.remaining)
          throw new FramingViolation(
            s"ExtensionObject body length $len exceeds body remainder ${r.remaining}")
        val b = new Array[Byte](math.max(0, len))
        var i = 0; while (i < len) { b(i) = r.u8().toByte; i += 1 }
        (id, b)
      case m => throw new FramingViolation(f"ExtensionObject encoding 0x$m%02x unsupported")
    }
  }

  /** One measured value as the wire carries it. */
  final case class WireValue(value: Double, statusGood: Boolean, sourceMicros: Long)

  /** DataValue: mask 0x01 value | 0x02 status (only when not Good) |
    * 0x04 sourceTimestamp; value is a scalar-Double Variant.
    */
  def writeDataValue(w: BufWriter, v: WireValue): BufWriter = {
    val mask = 0x01 | (if (v.statusGood) 0 else 0x02) | 0x04
    w.u8(mask)
    w.u8(VariantDouble).f64(v.value)
    if (!v.statusGood) w.u32(0x80000000L) // Bad
    w.i64(toFiletime(v.sourceMicros / 1000) + (v.sourceMicros % 1000) * 10)
  }
  def readDataValue(r: BufReader): WireValue = {
    val mask = r.u8()
    var value = Double.NaN
    if ((mask & 0x01) != 0) {
      val vt = r.u8()
      if (vt != VariantDouble) throw new FramingViolation(s"unexpected variant type $vt")
      value = r.f64()
    }
    val good = if ((mask & 0x02) != 0) { r.u32(); false } else true
    val micros = if ((mask & 0x04) != 0) {
      val ft = r.i64(); (ft / 10000L - 11644473600000L) * 1000 + (ft % 10000) / 10
    } else 0L
    if ((mask & 0x08) != 0) r.i64() // serverTimestamp, unused
    (WireValue(value, good, micros))
  }

  /** One ReferenceDescription (Part 4 §7.30) as Browse returns it. */
  final case class BrowseRef(refTypeId: NodeIdT, isForward: Boolean, nodeId: NodeIdT,
                             browseNs: Int, browseName: String, displayName: String,
                             nodeClass: Long, typeDefinition: NodeIdT)

  /** One BrowseResult: per-node status, continuation point (null when the
    * result is complete), and the reference slice.
    */
  final case class BrowseResultT(status: Long, continuation: Array[Byte],
                                 refs: Vector[BrowseRef])

  /** ResultMask bits (Part 4 §5.8.2.2): unset fields encode as null /
    * zero — the binary layout always carries every field.
    */
  private def writeBrowseRef(w: BufWriter, ref: BrowseRef, resultMask: Long): Unit = {
    writeNodeId(w, if ((resultMask & 0x01) != 0) ref.refTypeId else NodeIdT.Null)
    w.bool(ref.isForward)
    writeNodeId(w, ref.nodeId) // ExpandedNodeId, flag bits 0
    if ((resultMask & 0x08) != 0) writeQualifiedName(w, ref.browseNs, ref.browseName)
    else writeQualifiedName(w, 0, null)
    writeLocalizedText(w, if ((resultMask & 0x10) != 0) ref.displayName else null)
    w.u32(if ((resultMask & 0x04) != 0) ref.nodeClass else 0L)
    writeNodeId(w, if ((resultMask & 0x20) != 0) ref.typeDefinition else NodeIdT.Null)
  }

  private def readBrowseRef(r: BufReader): BrowseRef = {
    val refType = readNodeIdT(r)
    val fwd = r.bool()
    val target = readExpandedNodeId(r)
    val (bns, bname) = readQualifiedName(r)
    val display = readLocalizedText(r)
    val cls = r.u32()
    val typeDef = readExpandedNodeId(r)
    BrowseRef(refType, fwd, target, bns, bname, display, cls, typeDef)
  }

  private def writeResponseHeader(w: BufWriter, epochMillis: Long, handle: Long,
                                  status: Long): BufWriter = {
    w.i64(toFiletime(epochMillis)).u32(handle).u32(status)
    w.u8(0x00)      // ServiceDiagnostics
    w.i32(-1)       // StringTable
    w.u8(0x00).u8(0x00).u8(0x00) // AdditionalHeader
  }
  private def readResponseHeader(r: BufReader): (Long, Long) = {
    r.i64()
    val handle = r.u32(); val status = r.u32()
    r.u8(); r.i32(); readNodeIdT(r); r.u8()
    (handle, status)
  }

  /** RequestHeader with a REAL auth token (Part 4 §7.33). */
  private def writeRequestHeader(w: BufWriter, authToken: NodeIdT,
                                 epochMillis: Long, handle: Long): BufWriter = {
    writeNodeId(w, authToken)
    w.i64(toFiletime(epochMillis)).u32(handle).u32(0L).str(null).u32(0L)
    w.u8(0x00).u8(0x00).u8(0x00)
  }
  private def readRequestHeader(r: BufReader): (NodeIdT, Long) = {
    val tok = readNodeIdT(r)
    r.i64()
    val handle = r.u32()
    r.u32(); r.str(); r.u32(); readNodeIdT(r); r.u8()
    (tok, handle)
  }

  // --------------------------------------------------------------- server

  private final case class Item(monitoredItemId: Long, clientHandle: Long,
                                device: String, measure: String, queueSize: Long)
  private final case class Subscription(id: Long, publishingIntervalMs: Double,
                                        var items: Vector[Item],
                                        var delivered: Long, // feed position already published
                                        var notifSeq: Long,
                                        // unacknowledged (seq → DataChangeNotification body),
                                        // insertion-ordered, capped at MaxRetainedNotifications
                                        var retained: Vector[(Long, Array[Byte])] = Vector.empty)

  /** Per-connection service handler bridging the session/subscription
    * services onto a [[MeasureFeed]]. Returns the response BODY writer
    * for each TypeId-addressed request.
    */
  final class SessionServices(feed: MeasureFeed, clock: () => Long,
                              identity: Option[OpcuaCrypto.Identity] = None,
                              users: Map[String, String] = Map.empty,
                              allowAnonymous: Boolean = true) {
    private var sessionToken: NodeIdT = _
    // per-session nonce for the encrypted-password secret; rotated on
    // every Create/ActivateSession response (Part 4 nonce freshness)
    private var serverNonce: Array[Byte] = Array.emptyByteArray
    private var activated = false
    private var nextTokenId = 1000L
    private var nextSubId = 1L
    private var nextItemId = 1L
    private var lastServedSubId = 0L // Publish round-robin cursor
    private val subs = scala.collection.mutable.Map.empty[Long, Subscription]
    // session-timeout enforcement (Part 4 §5.6.2: the revised timeout is
    // a real contract — a session idle past it is CLOSED, subscriptions
    // and all): any authenticated service call refreshes the clock
    private var sessionTimeoutMs = 0.0
    private var lastActivityMillis = 0L

    private def requireSession(tok: NodeIdT): Unit = {
      if (sessionToken == null || tok != sessionToken || !activated)
        throw new OpcuaError(BadSessionIdInvalid, "no activated session for this token")
      if (sessionTimeoutMs > 0 && clock() - lastActivityMillis > sessionTimeoutMs) {
        subs.clear(); continuations.clear(); activated = false; sessionToken = null
        throw new OpcuaError(BadSessionClosed,
          s"session timed out after ${sessionTimeoutMs.toLong} ms of inactivity")
      }
      lastActivityMillis = clock()
    }

    /** The feed log IS the address space: the set of points that ever
      * produced a value, each with its latest value. Maintained as an
      * incremental index — one forward scan catches up from the last
      * indexed position, so existence checks and Reads are O(1) after the
      * first touch and O(new rows) thereafter, with memory bounded by the
      * number of DISTINCT points (not log length). Built lazily: the bulk
      * LATEST/GET/RANGE path never pays for it.
      */
    private val latestIdx = scala.collection.mutable.Map.empty[(String, String), WireValue]
    // browse hierarchy: device → measures, both in first-appearance order
    // (deterministic browse documents; memory is O(distinct points))
    private val pointsByDevice =
      scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.LinkedHashSet[String]]
    private var indexedTo = 0L
    private def refreshIndex(): Unit = {
      val hi = feed.latest()
      while (indexedTo < hi) {
        val (d, m, v, micros, ok) = feed.at(indexedTo)
        latestIdx((d, m)) = WireValue(v, ok, micros)
        pointsByDevice.getOrElseUpdate(d, scala.collection.mutable.LinkedHashSet.empty) += m
        indexedTo += 1
      }
    }

    private def latestOf(device: String, measure: String): Option[WireValue] = {
      refreshIndex()
      latestIdx.get((device, measure))
    }

    /** Resolve a point NodeId string `<device>/<measure>` against the
      * address space. Device names may themselves contain '/', so every
      * split position is tried left-to-right and the first one naming an
      * EXISTING point wins — a pure prefix split would make any point
      * under a slashed device name unresolvable.
      */
    private def resolvePoint(s: String): Option[(String, String)] = {
      refreshIndex()
      var i = s.indexOf('/')
      while (i >= 0) {
        val d = s.substring(0, i)
        val m = s.substring(i + 1)
        if (latestIdx.contains((d, m))) return Some((d, m))
        i = s.indexOf('/', i + 1)
      }
      None
    }

    /** The feed-derived address space as a browse hierarchy (reference
      * `Helpers/OpcuaBrowse.cs:24-40` — Forward, HierarchicalReferences
      * with subtypes, Object|Variable):
      *
      *   Root (i=84) ─Organizes→ Objects (i=85)
      *   Objects ─Organizes→ one Object per device (`ns=2;s=<device>`)
      *   device ─HasComponent→ one Variable per measure (`ns=2;s=<d>/<m>`)
      *
      * Returns None for a node the address space lacks; Some(empty) for a
      * leaf. A string node is a device if it names one EXACTLY; otherwise
      * it must resolve as a point — a device literally named `a/b` shadows
      * point (a, b) for browse, matching [[resolvePoint]]'s existence
      * rules read in the other direction.
      */
    private def childrenOf(node: NodeIdT): Option[Vector[BrowseRef]] = {
      refreshIndex()
      if (!node.isString && node.ns == 0 && node.numeric == RootFolderId)
        Some(Vector(BrowseRef(NodeIdT(0, OrganizesId), isForward = true,
          NodeIdT(0, ObjectsFolderId), 0, "Objects", "Objects",
          NodeClassObject, NodeIdT(0, FolderTypeId))))
      else if (!node.isString && node.ns == 0 && node.numeric == ObjectsFolderId)
        Some(pointsByDevice.keysIterator.map { d =>
          BrowseRef(NodeIdT(0, OrganizesId), isForward = true,
            NodeIdT(2, string = d), 2, d, d, NodeClassObject, NodeIdT(0, BaseObjectTypeId))
        }.toVector)
      else if (node.isString && node.ns == 2 && pointsByDevice.contains(node.string))
        Some(pointsByDevice(node.string).iterator.map { m =>
          BrowseRef(NodeIdT(0, HasComponentId), isForward = true,
            NodeIdT.point(node.string, m), 2, m, m,
            NodeClassVariable, NodeIdT(0, BaseDataVariableTypeId))
        }.toVector)
      else if (node.isString && node.ns == 2 && resolvePoint(node.string).isDefined)
        Some(Vector.empty)
      else None
    }

    // outstanding continuation points: token → (remaining refs, slice
    // size, resultMask of the originating Browse)
    private var nextCpToken = 1L
    private val continuations =
      scala.collection.mutable.Map.empty[Long, (Vector[BrowseRef], Long, Long)]

    private def cpBytes(token: Long): Array[Byte] = {
      val b = new Array[Byte](8)
      var i = 0; while (i < 8) { b(i) = (token >>> (8 * i)).toByte; i += 1 }
      b
    }
    private def cpToken(b: Array[Byte]): Option[Long] =
      if (b == null || b.length != 8) None
      else {
        var v = 0L; var i = 0
        while (i < 8) { v |= (b(i) & 0xFFL) << (8 * i); i += 1 }
        Some(v)
      }

    /** Write one BrowseResult, slicing off a continuation when the slice
      * cap is exceeded. maxRefs == 0 means unlimited (Part 4 §5.8.2.2).
      */
    private def writeBrowseResult(w: BufWriter, refs: Vector[BrowseRef],
                                  maxRefs: Long, resultMask: Long): Unit = {
      val cap = if (maxRefs <= 0L) Long.MaxValue else maxRefs
      if (refs.length <= cap) {
        w.u32(GoodStatus); writeByteString(w, null)
        w.i32(refs.length)
        refs.foreach(writeBrowseRef(w, _, resultMask))
      } else if (continuations.size >= MaxContinuationPoints) {
        // refusing the whole operation (not a truncated slice) is the
        // spec'd signal: the client frees points via BrowseNext(release)
        w.u32(BadNoContinuationPoints); writeByteString(w, null); w.i32(-1)
      } else {
        val (now, rest) = refs.splitAt(cap.toInt)
        val token = nextCpToken
        nextCpToken += 1
        continuations(token) = (rest, cap, resultMask)
        w.u32(GoodStatus); writeByteString(w, cpBytes(token))
        w.i32(now.length)
        now.foreach(writeBrowseRef(w, _, resultMask))
      }
    }

    /** Dispatch one TypeId-addressed service body; writes the response
      * body (TypeId + struct) into `w`.
      */
    def handle(typeId: Int, r: BufReader, w: BufWriter): Unit = typeId match {
      case GetEndpointsRequestId =>
        // a DISCOVERY service: answered with no session, before
        // CreateSession — the reference's DiscoveryClient path
        // (`Helpers/OpcuaHelperFunctions.cs:97-99`)
        val (_, handle) = readRequestHeader(r)
        val requestedUrl = r.str()
        val nLoc = r.i32(); (0 until math.max(0, nLoc)).foreach(_ => r.str())
        val nProf = r.i32(); (0 until math.max(0, nProf)).foreach(_ => r.str())
        val url = if (requestedUrl != null) requestedUrl else "opc.tcp://graft"
        def writeEndpoint(mode: Long, policyUri: String, level: Int): Unit = {
          w.str(url)
          // Server: ApplicationDescription
          w.str("urn:graft:server").str("urn:graft")
          writeLocalizedText(w, "graft feed")
          w.u32(0L)                         // ApplicationType Server
          w.str(null).str(null).i32(-1)     // gateway, discoveryProfile, discoveryUrls
          identity match {                  // ServerCertificate: the real
            case Some(id) =>                  // application-instance cert —
              w.i32(id.certDer.length)        // what a secured client pins +
              w.raw(id.certDer)               // encrypts its OPN to
            case None => w.i32(-1)
          }
          w.u32(mode)
          w.str(policyUri)
          w.i32(1)                          // one UserTokenPolicy: anonymous
          w.str("anonymous").u32(UserTokenTypeAnonymous)
          w.str(null).str(null).str(null)
          w.str(TransportProfileBinaryUri)
          w.u8(level)
        }
        writeNodeId(w, NodeIdT(0, GetEndpointsResponseId))
        writeResponseHeader(w, clock(), handle, GoodStatus)
        // secure endpoint first: selection must SEARCH for None, not take
        // the head (the reference's FirstOrDefault predicate does)
        w.i32(2)
        writeEndpoint(SecurityModeSignAndEncrypt, SecurityPolicyBasic256Sha256Uri, 3)
        writeEndpoint(SecurityModeNone, SecurityPolicyNoneUri, 0)

      case CreateSessionRequestId =>
        val (_, handle) = readRequestHeader(r)
        // ClientDescription(ApplicationDescription), serverUri, endpointUrl,
        // sessionName, clientNonce, clientCertificate, timeout, maxRespSize
        r.str(); r.str(); readLocalizedText(r); r.u32(); r.str(); r.str()
        val nUrls = r.i32(); (0 until math.max(0, nUrls)).foreach(_ => r.str())
        r.str(); r.str(); r.str(); r.i32() match { case n if n > 0 => (0 until n).foreach(_ => r.u8()); case _ => }
        r.i32() match { case n if n > 0 => (0 until n).foreach(_ => r.u8()); case _ => }
        val requestedTimeout = r.f64(); r.u32()
        sessionToken = NodeIdT(0, nextTokenId)
        nextTokenId += 1
        activated = false
        sessionTimeoutMs = math.max(10000.0, requestedTimeout)
        lastActivityMillis = clock()
        writeNodeId(w, NodeIdT(0, CreateSessionResponseId))
        writeResponseHeader(w, clock(), handle, GoodStatus)
        writeNodeId(w, NodeIdT(1, 10000L))  // SessionId
        writeNodeId(w, sessionToken)        // AuthenticationToken
        w.f64(sessionTimeoutMs)             // RevisedSessionTimeout — enforced
        serverNonce = OpcuaCrypto.newNonce()
        w.i32(serverNonce.length).raw(serverNonce)
        identity match {                    // cert = what passwords encrypt to
          case Some(id) => w.i32(id.certDer.length).raw(id.certDer)
          case None     => w.i32(-1)
        }
        w.i32(-1)                           // ServerEndpoints: null (no discovery here)
        w.i32(-1)                           // ServerSoftwareCertificates
        w.str(null).i32(-1)                 // ServerSignature{algorithm, signature}
        w.u32(0L)                           // MaxRequestMessageSize (no limit)

      case ActivateSessionRequestId =>
        val (tok, handle) = readRequestHeader(r)
        if (sessionToken == null || tok != sessionToken)
          throw new OpcuaError(BadSessionIdInvalid, "unknown session token")
        r.str(); r.i32()                    // ClientSignature
        r.i32()                             // ClientSoftwareCertificates (null)
        val nLoc = r.i32(); (0 until math.max(0, nLoc)).foreach(_ => r.str())
        val (identId, identBody) = readExtensionObject(r)
        identId.numeric match {
          case AnonymousIdentityTokenId =>
            if (!allowAnonymous)
              throw new OpcuaError(BadIdentityTokenRejected, "anonymous identity not allowed")
          case UserNameIdentityTokenId =>
            // UserNameIdentityToken: PolicyId, UserName, Password
            // (ByteString), EncryptionAlgorithm. Adversarial input —
            // decode under the body reader's own bounds.
            val ir = new BufReader(identBody)
            ir.str()                        // PolicyId
            val user = ir.str()
            val pwLen = ir.i32()
            val pwRaw = if (pwLen > 0) ir.bytes(pwLen) else Array.emptyByteArray
            val password = ir.str() match {
              case RsaOaepUri =>
                val id = identity.getOrElse(throw new OpcuaError(BadIdentityTokenRejected,
                  "no server key configured for encrypted passwords"))
                val plain =
                  try OpcuaCrypto.rsaDecryptBlocks(id.privateKey, pwRaw,
                    OpcuaCrypto.rsaCipherBlockSize(id.publicKey))
                  catch { case _: OpcuaError | _: RuntimeException =>
                    throw new OpcuaError(BadIdentityTokenInvalid, "password decryption failed") }
                // legacy secret: u32 length, then password || serverNonce;
                // the nonce binds the token to THIS session's challenge
                // (replay of a captured token fails here)
                val pr = new BufReader(plain)
                val len = pr.i32()
                if (len < serverNonce.length || len > pr.remaining)
                  throw new OpcuaError(BadIdentityTokenInvalid, "malformed encrypted secret")
                val pw = pr.bytes(len - serverNonce.length)
                val nonce = pr.bytes(serverNonce.length)
                if (serverNonce.isEmpty ||
                    !java.security.MessageDigest.isEqual(nonce, serverNonce))
                  throw new OpcuaError(BadIdentityTokenInvalid, "server nonce mismatch")
                new String(pw, java.nio.charset.StandardCharsets.UTF_8)
              case null | "" =>
                // plaintext passwords only when the server HAS no key to
                // offer — never downgrade when encryption is available
                if (identity.isDefined)
                  throw new OpcuaError(BadIdentityTokenRejected,
                    "plaintext password rejected: encrypt with the server certificate")
                new String(pwRaw, java.nio.charset.StandardCharsets.UTF_8)
              case other =>
                throw new OpcuaError(BadIdentityTokenRejected,
                  s"unsupported password encryption algorithm $other")
            }
            if (!users.get(user).contains(password))
              throw new OpcuaError(BadUserAccessDenied, s"bad credentials for '$user'")
          case other =>
            throw new OpcuaError(BadIdentityTokenRejected,
              s"unsupported identity token type $other")
        }
        r.str(); r.i32()                    // UserTokenSignature
        activated = true
        lastActivityMillis = clock()
        writeNodeId(w, NodeIdT(0, ActivateSessionResponseId))
        writeResponseHeader(w, clock(), handle, GoodStatus)
        serverNonce = OpcuaCrypto.newNonce() // fresh challenge for re-activation
        w.i32(serverNonce.length).raw(serverNonce)
        w.i32(-1).i32(-1)                   // Results, DiagnosticInfos

      case CloseSessionRequestId =>
        val (tok, handle) = readRequestHeader(r)
        requireSession(tok)
        r.bool()                            // DeleteSubscriptions
        subs.clear(); continuations.clear(); activated = false; sessionToken = null
        writeNodeId(w, NodeIdT(0, CloseSessionResponseId))
        writeResponseHeader(w, clock(), handle, GoodStatus)

      case ReadRequestId =>
        val (tok, handle) = readRequestHeader(r)
        requireSession(tok)
        r.f64(); r.u32()                    // MaxAge, TimestampsToReturn
        val n = r.i32()
        val nodes = (0 until math.max(0, n)).map { _ =>
          val nid = readNodeIdT(r)
          val attr = r.u32()
          r.str()                           // IndexRange
          readQualifiedName(r)              // DataEncoding
          (nid, attr)
        }
        writeNodeId(w, NodeIdT(0, ReadResponseId))
        writeResponseHeader(w, clock(), handle, GoodStatus)
        w.i32(nodes.length)
        nodes.foreach { case (nid, attr) =>
          // only the Value attribute is served — any other attribute id
          // answers BadAttributeIdInvalid (the node may well exist);
          // BadNodeIdUnknown is reserved for nodes the address space
          // genuinely lacks, so a conforming client can tell the cases
          // apart and retry with the right attribute
          if (attr != AttributeValue) {
            w.u8(0x02).u32(BadAttributeIdInvalid) // status-only DataValue
          } else {
            val v =
              if (!nid.isString) None
              else resolvePoint(nid.string).flatMap { case (d, m) => latestOf(d, m) }
            v match {
              case Some(wv) => writeDataValue(w, wv)
              case None => w.u8(0x02).u32(BadNodeIdUnknown)
            }
          }
        }
        w.i32(-1)                           // DiagnosticInfos

      case CreateSubscriptionRequestId =>
        val (tok, handle) = readRequestHeader(r)
        requireSession(tok)
        val interval = r.f64()
        r.u32(); r.u32(); r.u32(); r.bool(); r.u8()
        val sub = Subscription(nextSubId, math.max(100.0, interval), Vector.empty,
          delivered = feed.latest(), notifSeq = 1L)
        subs(sub.id) = sub
        nextSubId += 1
        writeNodeId(w, NodeIdT(0, CreateSubscriptionResponseId))
        writeResponseHeader(w, clock(), handle, GoodStatus)
        w.u32(sub.id).f64(sub.publishingIntervalMs).u32(10000L).u32(10L)

      case CreateMonitoredItemsRequestId =>
        val (tok, handle) = readRequestHeader(r)
        requireSession(tok)
        val subId = r.u32()
        val sub = subs.getOrElse(subId,
          throw new OpcuaError(BadSubscriptionIdInvalid, s"subscription $subId"))
        r.u32()                             // TimestampsToReturn
        val n = r.i32()
        val results = (0 until math.max(0, n)).map { _ =>
          val nid = readNodeIdT(r)
          val attr = r.u32()
          r.str(); readQualifiedName(r)
          r.u32()                           // MonitoringMode
          val clientHandle = r.u32()
          val sampling = r.f64()
          readExtensionObject(r)            // Filter
          val queueSize = r.u32()
          r.bool()                          // DiscardOldest (only mode served)
          // a well-formed point NodeId must also EXIST in the address
          // space — the feed log is the namespace, so a point that never
          // produced a value is unknown (reference parity: monitored
          // items are created against browsed nodes). QueueSize is
          // revised into [1, MaxQueueSize]: 0 means "default of 1" per
          // Part 4, and the UInt32 "max" convention (0xFFFFFFFF) must not
          // wrap the Int arithmetic the queue cap uses.
          val point =
            if (attr == AttributeValue && nid.isString) resolvePoint(nid.string) else None
          point match {
            case Some((d, m)) =>
              val revisedQueue = math.max(1L, math.min(queueSize, MaxQueueSize))
              val item = Item(nextItemId, clientHandle, d, m, revisedQueue)
              nextItemId += 1
              sub.items :+= item
              (GoodStatus, item.monitoredItemId, sampling, item.queueSize)
            case None => (BadNodeIdUnknown, 0L, sampling, queueSize)
          }
        }
        writeNodeId(w, NodeIdT(0, CreateMonitoredItemsResponseId))
        writeResponseHeader(w, clock(), handle, GoodStatus)
        w.i32(results.length)
        results.foreach { case (st, id, sampling, qs) =>
          w.u32(st).u32(id).f64(sampling).u32(qs)
          writeNullExtensionObject(w)       // FilterResult
        }
        w.i32(-1)

      case DeleteMonitoredItemsRequestId =>
        val (tok, handle) = readRequestHeader(r)
        requireSession(tok)
        val subId = r.u32()
        val sub = subs.getOrElse(subId,
          throw new OpcuaError(BadSubscriptionIdInvalid, s"subscription $subId"))
        val n = r.i32()
        val ids = (0 until math.max(0, n)).map(_ => r.u32())
        val statuses = ids.map { id =>
          if (sub.items.exists(_.monitoredItemId == id)) {
            sub.items = sub.items.filterNot(_.monitoredItemId == id)
            GoodStatus
          } else BadMonitoredItemIdInvalid
        }
        writeNodeId(w, NodeIdT(0, DeleteMonitoredItemsResponseId))
        writeResponseHeader(w, clock(), handle, GoodStatus)
        w.i32(statuses.length)
        statuses.foreach(w.u32)
        w.i32(-1)                           // DiagnosticInfos

      case DeleteSubscriptionsRequestId =>
        val (tok, handle) = readRequestHeader(r)
        requireSession(tok)
        val n = r.i32()
        val ids = (0 until math.max(0, n)).map(_ => r.u32())
        val statuses = ids.map { id =>
          if (subs.contains(id)) { subs.remove(id); GoodStatus }
          else BadSubscriptionIdInvalid
        }
        writeNodeId(w, NodeIdT(0, DeleteSubscriptionsResponseId))
        writeResponseHeader(w, clock(), handle, GoodStatus)
        w.i32(statuses.length)
        statuses.foreach(w.u32)
        w.i32(-1)                           // DiagnosticInfos

      case BrowseRequestId =>
        val (tok, handle) = readRequestHeader(r)
        requireSession(tok)
        readNodeIdT(r); r.i64(); r.u32()    // ViewDescription (default view only)
        val maxRefs = r.u32()
        val n = r.i32()
        val descs = (0 until math.max(0, n)).map { _ =>
          val nid = readNodeIdT(r)
          val direction = r.u32()
          val refType = readNodeIdT(r)
          val includeSubtypes = r.bool()
          val classMask = r.u32()
          val resultMask = r.u32()
          (nid, direction, refType, includeSubtypes, classMask, resultMask)
        }
        writeNodeId(w, NodeIdT(0, BrowseResponseId))
        writeResponseHeader(w, clock(), handle, GoodStatus)
        w.i32(descs.length)
        descs.foreach { case (nid, direction, refType, includeSubtypes, classMask, resultMask) =>
          // served reference types: null = all; HierarchicalReferences
          // only with IncludeSubtypes (Organizes and HasComponent are
          // strict subtypes); or the exact concrete type
          val refFilter: Option[BrowseRef => Boolean] =
            if (refType == NodeIdT.Null) Some(_ => true)
            else if (refType.isString || refType.ns != 0) None
            else if (refType.numeric == HierarchicalReferencesId)
              if (includeSubtypes) Some(_ => true) else Some(_ => false)
            else if (refType.numeric == OrganizesId || refType.numeric == HasComponentId)
              Some(ref => ref.refTypeId.numeric == refType.numeric)
            else None
          if (direction != 0L) { // only Forward is served
            w.u32(BadBrowseDirectionInvalid); writeByteString(w, null); w.i32(-1)
          } else if (refFilter.isEmpty) {
            w.u32(BadReferenceTypeIdInvalid); writeByteString(w, null); w.i32(-1)
          } else childrenOf(nid) match {
            case None =>
              w.u32(BadNodeIdUnknown); writeByteString(w, null); w.i32(-1)
            case Some(kids) =>
              val filtered = kids.filter(refFilter.get).filter(ref =>
                classMask == 0L || (ref.nodeClass & classMask) != 0L)
              writeBrowseResult(w, filtered, maxRefs, resultMask)
          }
        }
        w.i32(-1)                           // DiagnosticInfos

      case BrowseNextRequestId =>
        val (tok, handle) = readRequestHeader(r)
        requireSession(tok)
        val release = r.bool()
        val n = r.i32()
        val cps = (0 until math.max(0, n)).map(_ => readByteString(r))
        writeNodeId(w, NodeIdT(0, BrowseNextResponseId))
        writeResponseHeader(w, clock(), handle, GoodStatus)
        w.i32(cps.length)
        cps.foreach { cp =>
          cpToken(cp).flatMap(t => continuations.get(t).map(t -> _)) match {
            case None =>
              w.u32(BadContinuationPointInvalid); writeByteString(w, null); w.i32(-1)
            case Some((token, _)) if release =>
              continuations.remove(token)
              w.u32(GoodStatus); writeByteString(w, null); w.i32(-1)
            case Some((token, (rest, cap, resultMask))) =>
              continuations.remove(token)
              writeBrowseResult(w, rest, cap, resultMask)
          }
        }
        w.i32(-1)                           // DiagnosticInfos

      case PublishRequestId =>
        val (tok, handle) = readRequestHeader(r)
        requireSession(tok)
        // SubscriptionAcknowledgements release retained messages; each
        // ack answers its own status (Part 4 §5.13.5: Good, or
        // BadSequenceNumberUnknown for a seq the server no longer holds)
        val nAcks = r.i32()
        val ackStatuses = (0 until math.max(0, nAcks)).map { _ =>
          val ackSub = r.u32(); val ackSeq = r.u32()
          subs.get(ackSub) match {
            case Some(s) if s.retained.exists(_._1 == ackSeq) =>
              s.retained = s.retained.filterNot(_._1 == ackSeq)
              GoodStatus
            case Some(_) => BadSequenceNumberUnknown
            case None => BadSubscriptionIdInvalid
          }
        }
        if (subs.isEmpty)
          throw new OpcuaError(BadSubscriptionIdInvalid, "no subscription")
        val hi = feed.latest()
        // Part 4: a Publish answers for a subscription that HAS pending
        // notifications; serving an arbitrary one would starve the rest.
        // Among ready subscriptions rotate ROUND-ROBIN from the last
        // served id — a fixed lowest-id-wins rule would starve every
        // other busy subscription forever on a continuously-appending
        // feed. When none is ready, the lowest id answers a
        // keep-alive-shaped empty notification.
        val ordered = subs.values.toSeq.sortBy(_.id)
        val ready = ordered.filter(s => s.items.nonEmpty && s.delivered < hi)
        val sub = ready.find(_.id > lastServedSubId)
          .orElse(ready.headOption)
          .getOrElse(ordered.head)
        lastServedSubId = sub.id
        // every appended value since the last publish, per-item bounded
        // by QueueSize keeping the NEWEST (DiscardOldest=true — T6).
        // Queues key on monitoredItemId — the SERVER-assigned identity —
        // never on clientHandle, which the client chooses and may
        // duplicate across items (two items sharing a handle must still
        // hold separate queues with separate caps). Items index by point
        // ONCE so the catch-up scan is O(rows + matches), not
        // O(rows × items); the QueueSize cap applies once per item at
        // emit (equivalent to capping per append — both keep the newest).
        val itemsByPoint = sub.items.groupBy(it => (it.device, it.measure))
        val perItem = scala.collection.mutable.Map.empty[Long, Vector[WireValue]]
        var i = sub.delivered
        while (i < hi) {
          val (d, m, v, micros, ok) = feed.at(i)
          itemsByPoint.getOrElse((d, m), Vector.empty).foreach { it =>
            perItem(it.monitoredItemId) =
              perItem.getOrElse(it.monitoredItemId, Vector.empty) :+ WireValue(v, ok, micros)
          }
          i += 1
        }
        sub.delivered = hi
        // emit in item-creation order; the wire carries the clientHandle
        val notifs: Seq[(Long, WireValue)] = sub.items.flatMap { it =>
          perItem.getOrElse(it.monitoredItemId, Vector.empty)
            .takeRight(it.queueSize.toInt).map(v => (it.clientHandle, v))
        }
        // DataChangeNotification body (rides in an ExtensionObject)
        val dcn = new BufWriter(64 + 32 * notifs.length)
        dcn.i32(notifs.length)
        notifs.foreach { case (h, v) => dcn.u32(h); writeDataValue(dcn, v) }
        dcn.i32(-1)
        val dcnBytes = dcn.result()
        // Part 4 §5.13.5: a keep-alive ADVERTISES the next sequence number
        // without consuming it — only a real notification message claims
        // the number and is retained. Incrementing on keep-alives would
        // leave permanent gaps a gap-detecting client must treat as loss.
        val thisSeq = sub.notifSeq
        if (notifs.nonEmpty) {
          sub.notifSeq += 1
          sub.retained :+= (thisSeq, dcnBytes)
          if (sub.retained.size > MaxRetainedNotifications)
            sub.retained = sub.retained.takeRight(MaxRetainedNotifications)
        }
        writeNodeId(w, NodeIdT(0, PublishResponseId))
        writeResponseHeader(w, clock(), handle, GoodStatus)
        w.u32(sub.id)
        // AvailableSequenceNumbers: what Republish can still serve
        w.i32(sub.retained.length)
        sub.retained.foreach { case (sn, _) => w.u32(sn) }
        w.bool(false)                       // MoreNotifications
        w.u32(thisSeq)                      // NotificationMessage.SequenceNumber
        w.i64(toFiletime(clock()))
        w.i32(1)                            // one notification: the DCN
        writeExtensionObject(w, DataChangeNotificationId, dcnBytes)
        w.i32(ackStatuses.length)           // Results: one status per ack
        ackStatuses.foreach(w.u32)
        w.i32(-1)                           // DiagnosticInfos

      case RepublishRequestId =>
        val (tok, handle) = readRequestHeader(r)
        requireSession(tok)
        val subId = r.u32()
        val seq = r.u32()
        val sub = subs.getOrElse(subId,
          throw new OpcuaError(BadSubscriptionIdInvalid, s"subscription $subId"))
        val body = sub.retained.collectFirst { case (sn, b) if sn == seq => b }
          .getOrElse(throw new OpcuaError(BadMessageNotAvailable,
            s"sequence $seq not retained (acknowledged, dropped, or never published)"))
        writeNodeId(w, NodeIdT(0, RepublishResponseId))
        writeResponseHeader(w, clock(), handle, GoodStatus)
        w.u32(seq)                          // NotificationMessage.SequenceNumber
        w.i64(toFiletime(clock()))
        w.i32(1)
        writeExtensionObject(w, DataChangeNotificationId, body)

      case other =>
        throw new OpcuaError(BadServiceUnsupported, s"service typeId $other")
    }
  }

  /** ServiceFault response body: just a ResponseHeader with the bad
    * ServiceResult — a request-level failure that leaves the channel
    * open, unlike a Part 6 ERR frame. Correlation stays at the MSG
    * RequestId layer (the fault can't know the request handle when the
    * header itself failed to validate).
    */
  def serviceFaultBody(epochMillis: Long, status: Long): Array[Byte] = {
    val w = new BufWriter(64)
    writeNodeId(w, NodeIdT(0, ServiceFaultId))
    writeResponseHeader(w, epochMillis, 0L, status)
    w.result()
  }

  // --------------------------------------------------------------- client

  /** Minimal session client over an established HEL/ACK/OPN connection's
    * streams ([[FeedTransport.SocketMeasureFeed]] owns connection
    * lifecycle for the bulk path; this client owns its own socket for
    * the session/subscription path — see OpcuaSessionSpec).
    */
  final class SessionClient(host: String, port: Int, timeoutMs: Int = 30000,
                            requestedLifetimeMs: Long = 3600000L,
                            security: Option[OpcuaSecure.SecuritySetup] = None)
      extends AutoCloseable {
    private val sock = new java.net.Socket()
    private var authToken: NodeIdT = NodeIdT.Null
    // password-encryption material from the CreateSession response
    private var serverNonce: Array[Byte] = Array.emptyByteArray
    private var serverCertDer: Array[Byte] = null

    // connect + HEL → ACK → OPN (shared client half). A constructor that
    // throws leaves no object for callers to close, so the socket must be
    // released HERE on any handshake failure — otherwise each failed
    // construction leaks a connected socket.
    private val conv =
      try ClientConversation.connect(sock, host, port, timeoutMs, DefaultLimits,
        OpcuaSecure.SecuritySetup.policyOf(security), requestedLifetimeMs)
      catch {
        case e: Throwable =>
          try sock.close() catch { case _: Exception => () }
          throw e
      }

    /** The RequestId of the request being encoded. */
    private def requestId: Long = conv.requestId

    /** The live security token id (renewal bumps it). */
    def tokenId: Long = conv.channel.token.tokenId

    /** One OPN(Renew) round-trip, swapping in the fresh token. [[call]]
      * triggers this automatically at 75% of the token lifetime.
      */
    def renewNow(): Unit = conv.renew()

    private def call(encodeBody: BufWriter => Unit): BufReader = {
      val body = conv.call { mw =>
        val w = new BufWriter(256)
        encodeBody(w)
        mw.raw(w.result())
      }
      val r = new BufReader(body)
      val typeId = readNodeIdT(r).numeric.toInt
      val (_, status) = readResponseHeader(r)
      if (typeId == ServiceFaultId || status != GoodStatus)
        throw new OpcuaError(status, "service fault")
      r
    }

    def createSession(sessionName: String,
                      requestedTimeoutMs: Double = 3600000.0): Unit = {
      val r = call { w =>
        writeNodeId(w, NodeIdT(0, CreateSessionRequestId))
        writeRequestHeader(w, NodeIdT.Null, System.currentTimeMillis(), requestId)
        // ApplicationDescription
        w.str("urn:graft:client").str("urn:graft")
        writeLocalizedText(w, "graft")
        w.u32(1L)                           // ApplicationType Client
        w.str(null).str(null).i32(-1)
        w.str(null)                         // ServerUri
        w.str(s"opc.tcp://$host:$port/graft")
        w.str(sessionName)
        w.i32(-1).i32(-1)                   // ClientNonce, ClientCertificate
        w.f64(requestedTimeoutMs).u32(0L)
      }
      readNodeIdT(r)                        // SessionId
      authToken = readNodeIdT(r)            // AuthenticationToken
      r.f64()                               // RevisedSessionTimeout
      // ServerNonce + ServerCertificate: the password-encryption material
      val nLen = r.i32()
      serverNonce = if (nLen > 0) r.bytes(nLen) else Array.emptyByteArray
      val cLen = r.i32()
      serverCertDer = if (cLen > 0) r.bytes(cLen) else null
    }

    def activateSession(identity: SessionIdentity = AnonymousIdentity): Unit =
      activateWith(identity, serverNonce, plaintext = false)

    /** Test hooks: the captured CreateSession nonce, activation against an
      * arbitrary (e.g. stale) nonce, and the plaintext-password downgrade —
      * each exists so specs can pin the REJECTION paths from outside.
      */
    private[graft] def capturedServerNonce: Array[Byte] = serverNonce.clone()
    private[graft] def activateSessionWithNonce(identity: SessionIdentity,
                                                nonce: Array[Byte]): Unit =
      activateWith(identity, nonce, plaintext = false)
    private[graft] def activateSessionPlaintext(user: String, pass: String): Unit =
      activateWith(UserPasswordIdentity(user, pass), serverNonce, plaintext = true)

    private def activateWith(identity: SessionIdentity, nonce: Array[Byte],
                             plaintext: Boolean): Unit = {
      val r = call { w =>
        writeNodeId(w, NodeIdT(0, ActivateSessionRequestId))
        writeRequestHeader(w, authToken, System.currentTimeMillis(), requestId)
        w.str(null).i32(-1)                 // ClientSignature
        w.i32(-1)                           // ClientSoftwareCertificates
        w.i32(-1)                           // LocaleIds
        identity match {
          case AnonymousIdentity =>
            val anon = new BufWriter(16).str("anonymous")
            writeExtensionObject(w, AnonymousIdentityTokenId, anon.result())
          case UserPasswordIdentity(user, pass) =>
            val body = new BufWriter(512)
            body.str("username").str(user)
            if (plaintext) {
              val pwBytes = pass.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              body.i32(pwBytes.length).raw(pwBytes)
              body.str(null)                // EncryptionAlgorithm: none
            } else {
              // Part 4 §7.36.4 legacy secret: RSA-OAEP(server cert,
              // u32 len || passwordUtf8 || serverNonce) — the nonce from
              // THIS CreateSession response, so a captured token cannot
              // replay into another session
              if (serverCertDer == null)
                throw new OpcuaError(BadIdentityTokenRejected,
                  "server supplied no certificate; cannot encrypt the password")
              val pub = OpcuaCrypto.peerPublicKeyOf(serverCertDer)
              val pwBytes = pass.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val secret = new BufWriter(64)
                .u32((pwBytes.length + nonce.length).toLong)
                .raw(pwBytes).raw(nonce).result()
              val enc = OpcuaCrypto.rsaEncryptSecret(pub, secret)
              body.i32(enc.length).raw(enc)
              body.str(RsaOaepUri)
            }
            writeExtensionObject(w, UserNameIdentityTokenId, body.result())
        }
        w.str(null).i32(-1)                 // UserTokenSignature
      }
      // fresh server nonce for a later re-activation
      val nl = r.i32()
      if (nl > 0) serverNonce = r.bytes(nl)
      ()
    }

    def read(points: Seq[(String, String)]): Seq[Option[WireValue]] = {
      val r = call { w =>
        writeNodeId(w, NodeIdT(0, ReadRequestId))
        writeRequestHeader(w, authToken, System.currentTimeMillis(), requestId)
        w.f64(0.0).u32(0L)
        w.i32(points.length)
        points.foreach { case (d, m) =>
          writeNodeId(w, NodeIdT.point(d, m))
          w.u32(AttributeValue)
          w.str(null)
          writeQualifiedName(w, 0, null)
        }
      }
      val n = r.i32()
      (0 until n).map { _ =>
        val v = readDataValue(r)
        if (v.value.isNaN && !v.statusGood) None else Some(v)
      }
    }

    /** Read ONE attribute of each node, returning the raw per-node status
      * code (GoodStatus when a value came back) — the diagnostic surface
      * [[read]] folds into Option: BadAttributeIdInvalid and
      * BadNodeIdUnknown are distinct answers a conforming client reacts
      * to differently.
      */
    def readAttributeStatus(points: Seq[(String, String)], attributeId: Long): Seq[Long] = {
      val r = call { w =>
        writeNodeId(w, NodeIdT(0, ReadRequestId))
        writeRequestHeader(w, authToken, System.currentTimeMillis(), requestId)
        w.f64(0.0).u32(0L)
        w.i32(points.length)
        points.foreach { case (d, m) =>
          writeNodeId(w, NodeIdT.point(d, m))
          w.u32(attributeId)
          w.str(null)
          writeQualifiedName(w, 0, null)
        }
      }
      val n = r.i32()
      (0 until n).map { _ =>
        val mask = r.u8()
        if ((mask & 0x01) != 0) { val vt = r.u8(); if (vt == VariantDouble) r.f64() }
        val status = if ((mask & 0x02) != 0) r.u32() else GoodStatus
        if ((mask & 0x04) != 0) r.i64()
        if ((mask & 0x08) != 0) r.i64()
        status
      }
    }

    def createSubscription(publishingIntervalMs: Double): Long = {
      val r = call { w =>
        writeNodeId(w, NodeIdT(0, CreateSubscriptionRequestId))
        writeRequestHeader(w, authToken, System.currentTimeMillis(), requestId)
        w.f64(publishingIntervalMs).u32(10000L).u32(10L).u32(0L).bool(true).u8(0)
      }
      r.u32()
    }

    /** Returns (statusCode, monitoredItemId, revisedQueueSize) per item. */
    def createMonitoredItems(subscriptionId: Long,
                             items: Seq[(Long, String, String, Long)]): Seq[(Long, Long, Long)] = {
      val r = call { w =>
        writeNodeId(w, NodeIdT(0, CreateMonitoredItemsRequestId))
        writeRequestHeader(w, authToken, System.currentTimeMillis(), requestId)
        w.u32(subscriptionId).u32(0L)
        w.i32(items.length)
        items.foreach { case (clientHandle, d, m, queueSize) =>
          writeNodeId(w, NodeIdT.point(d, m))
          w.u32(AttributeValue).str(null)
          writeQualifiedName(w, 0, null)
          w.u32(2L)                         // MonitoringMode Reporting
          w.u32(clientHandle).f64(5000.0)
          writeNullExtensionObject(w)       // Filter
          w.u32(queueSize).bool(true)       // DiscardOldest — reference T6
        }
      }
      val n = r.i32()
      val out = (0 until n).map { _ =>
        val st = r.u32(); val id = r.u32(); r.f64(); val qs = r.u32()
        readExtensionObject(r)
        (st, id, qs)
      }
      r.i32()
      out
    }

    /** GetEndpoints — callable BEFORE createSession (discovery). */
    def getEndpoints(): Seq[EndpointDesc] = {
      val r = call { w =>
        writeNodeId(w, NodeIdT(0, GetEndpointsRequestId))
        writeRequestHeader(w, NodeIdT.Null, System.currentTimeMillis(), requestId)
        w.str(s"opc.tcp://$host:$port/graft")
        w.i32(-1)                           // LocaleIds
        w.i32(-1)                           // ProfileUris
      }
      val n = r.i32()
      (0 until math.max(0, n)).map { _ =>
        val url = r.str()
        r.str(); r.str(); readLocalizedText(r); r.u32() // ApplicationDescription…
        r.str(); r.str()
        val nUrls = r.i32(); (0 until math.max(0, nUrls)).foreach(_ => r.str())
        val cert = readByteString(r)        // ServerCertificate
        val mode = r.u32()
        val policy = r.str()
        val nTok = r.i32()
        val toks = (0 until math.max(0, nTok)).map { _ =>
          r.str(); val t = r.u32(); r.str(); r.str(); r.str(); t
        }.toVector
        val transport = r.str()
        val level = r.u8()
        EndpointDesc(url, mode, policy, transport, level, toks, cert)
      }
    }

    private def readBrowseResults(r: BufReader): Seq[BrowseResultT] = {
      val n = r.i32()
      val out = (0 until math.max(0, n)).map { _ =>
        val status = r.u32()
        val cp = {
          val len = r.i32()
          if (len < 0) null
          else {
            val b = new Array[Byte](len)
            var i = 0; while (i < len) { b(i) = r.u8().toByte; i += 1 }
            b
          }
        }
        val nRefs = r.i32()
        val refs = (0 until math.max(0, nRefs)).map(_ => readBrowseRef(r)).toVector
        BrowseResultT(status, cp, refs)
      }
      r.i32()                               // DiagnosticInfos
      out
    }

    /** Browse the forward hierarchical references of each node — the
      * reference's exact call shape (`Helpers/OpcuaBrowse.cs:24-40`:
      * Forward, HierarchicalReferences, IncludeSubtypes,
      * Object|Variable). maxRefsPerNode 0 = no cap.
      */
    def browse(nodes: Seq[NodeIdT], maxRefsPerNode: Long = 0L,
               nodeClassMask: Long = NodeClassObject | NodeClassVariable,
               referenceTypeId: Long = HierarchicalReferencesId,
               includeSubtypes: Boolean = true,
               direction: Long = 0L): Seq[BrowseResultT] = {
      val r = call { w =>
        writeNodeId(w, NodeIdT(0, BrowseRequestId))
        writeRequestHeader(w, authToken, System.currentTimeMillis(), requestId)
        writeNodeId(w, NodeIdT.Null); w.i64(0L); w.u32(0L) // View: default
        w.u32(maxRefsPerNode)
        w.i32(nodes.length)
        nodes.foreach { nid =>
          writeNodeId(w, nid)
          w.u32(direction)                  // 0 = Forward (the served mode)
          writeNodeId(w, NodeIdT(0, referenceTypeId))
          w.bool(includeSubtypes)
          w.u32(nodeClassMask)
          w.u32(0x3FL)                      // ResultMask: everything
        }
      }
      readBrowseResults(r)
    }

    /** Continue (or release) prior Browse results by continuation point. */
    def browseNext(continuationPoints: Seq[Array[Byte]],
                   release: Boolean = false): Seq[BrowseResultT] = {
      val r = call { w =>
        writeNodeId(w, NodeIdT(0, BrowseNextRequestId))
        writeRequestHeader(w, authToken, System.currentTimeMillis(), requestId)
        w.bool(release)
        w.i32(continuationPoints.length)
        continuationPoints.foreach { cp => w.i32(cp.length); w.raw(cp) }
      }
      readBrowseResults(r)
    }

    /** Walk the address space breadth-first from `root` and return the
      * node table NodeTree consumes: (id, parent_id, text, node_class) —
      * the root row carries a null parent. The walk is the reference
      * browse job's traversal (`Helpers/OpcuaBrowse.cs:20-144`) done
      * level-at-a-time: every frontier node rides ONE Browse request, and
      * continuation points drain through BrowseNext before descending —
      * so the request count is O(depth), not O(nodes) as in the
      * reference's thread-per-node DFS. Children whose display name is in
      * `exclusions` are pruned with their whole subtree (the reference's
      * `exclusionFolders.Contains(folderText)` skip).
      */
    def browseTree(root: NodeIdT = NodeIdT(0, ObjectsFolderId),
                   rootText: String = "Objects",
                   exclusions: Set[String] = Set.empty,
                   maxDepth: Int = 32,
                   maxRefsPerNode: Long = 0L): Vector[(String, String, String, String)] = {
      val rootId = nodeIdString(root)
      val rows = Vector.newBuilder[(String, String, String, String)]
      rows += ((rootId, null, rootText, "Object"))
      var frontier: Vector[(NodeIdT, String)] = Vector((root, rootId))
      var depth = 0
      while (frontier.nonEmpty && depth < maxDepth) {
        val results = browse(frontier.map(_._1), maxRefsPerNode)
        val next = Vector.newBuilder[(NodeIdT, String)]
        frontier.zip(results).foreach { case ((nid, parentId), first) =>
          // a Bad per-node status (BadNoContinuationPoints when the
          // server's continuation budget is exhausted, BadNodeIdUnknown
          // on a race with address-space removal…) must fail the WALK —
          // treating it as a leaf would silently drop the whole subtree
          // from the returned node table
          if (first.status != GoodStatus)
            throw new OpcuaError(first.status, s"browse of ${nodeIdString(nid)} failed")
          // drain this node's continuation chain before moving on
          var refs = first.refs
          var cp = first.continuation
          while (cp != null) {
            val cont = browseNext(Seq(cp)).head
            if (cont.status != GoodStatus)
              throw new OpcuaError(cont.status, s"browse continuation of ${nodeIdString(nid)} failed")
            refs ++= cont.refs
            cp = cont.continuation
          }
          refs.foreach { ref =>
            if (!exclusions.contains(ref.displayName)) {
              val childId = nodeIdString(ref.nodeId)
              val cls = if (ref.nodeClass == NodeClassVariable) "Variable" else "Object"
              rows += ((childId, parentId, ref.displayName, cls))
              next += ((ref.nodeId, childId))
            }
          }
        }
        frontier = next.result()
        depth += 1
      }
      rows.result()
    }

    /** Per-item deletion statuses (Good / BadMonitoredItemIdInvalid). */
    def deleteMonitoredItems(subscriptionId: Long, itemIds: Seq[Long]): Seq[Long] = {
      val r = call { w =>
        writeNodeId(w, NodeIdT(0, DeleteMonitoredItemsRequestId))
        writeRequestHeader(w, authToken, System.currentTimeMillis(), requestId)
        w.u32(subscriptionId)
        w.i32(itemIds.length)
        itemIds.foreach(w.u32)
      }
      val n = r.i32()
      val out = (0 until math.max(0, n)).map(_ => r.u32())
      r.i32()
      out
    }

    /** Per-subscription deletion statuses (Good / BadSubscriptionIdInvalid). */
    def deleteSubscriptions(subscriptionIds: Seq[Long]): Seq[Long] = {
      val r = call { w =>
        writeNodeId(w, NodeIdT(0, DeleteSubscriptionsRequestId))
        writeRequestHeader(w, authToken, System.currentTimeMillis(), requestId)
        w.i32(subscriptionIds.length)
        subscriptionIds.foreach(w.u32)
      }
      val n = r.i32()
      val out = (0 until math.max(0, n)).map(_ => r.u32())
      r.i32()
      out
    }

    /** One Publish answer, fully parsed. */
    final case class PublishResult(subscriptionId: Long, sequenceNumber: Long,
                                   available: Vector[Long], ackResults: Vector[Long],
                                   notifs: Vector[(Long, WireValue)])

    /** One Publish round-trip: (clientHandle, value) notifications. */
    def publish(): Seq[(Long, WireValue)] = publishFull().notifs

    /** As [[publish]], but also returns WHICH subscription answered —
      * the server rotates among ready subscriptions.
      */
    def publishWithSub(): (Long, Seq[(Long, WireValue)]) = {
      val p = publishFull()
      (p.subscriptionId, p.notifs)
    }

    private def parseNotificationMessage(r: BufReader): (Long, Vector[(Long, WireValue)]) = {
      val seq = r.u32()
      r.i64()                               // publishTime
      val nData = r.i32()
      val notifs = Vector.newBuilder[(Long, WireValue)]
      (0 until math.max(0, nData)).foreach { _ =>
        val (tid, body) = readExtensionObject(r)
        if (tid.numeric == DataChangeNotificationId && body != null) {
          val br = new BufReader(body)
          val n = br.i32()
          (0 until n).foreach(_ => notifs += ((br.u32(), readDataValue(br))))
          br.i32()
        }
      }
      (seq, notifs.result())
    }

    /** Publish carrying acknowledgements: each (subscriptionId, seq) ack
      * releases the server's retained copy; per-ack statuses come back
      * in `ackResults` (Good / BadSequenceNumberUnknown). The returned
      * `available` lists what Republish can still recover for the
      * answering subscription.
      */
    def publishFull(acks: Seq[(Long, Long)] = Nil): PublishResult = {
      val r = call { w =>
        writeNodeId(w, NodeIdT(0, PublishRequestId))
        writeRequestHeader(w, authToken, System.currentTimeMillis(), requestId)
        if (acks.isEmpty) w.i32(-1)
        else {
          w.i32(acks.length)
          acks.foreach { case (s, sq) => w.u32(s).u32(sq) }
        }
      }
      val servedSub = r.u32()               // SubscriptionId
      val nAvail = r.i32()
      val available = (0 until math.max(0, nAvail)).map(_ => r.u32()).toVector
      r.bool()                              // MoreNotifications
      val (seq, notifs) = parseNotificationMessage(r)
      val nRes = r.i32()
      val ackResults = (0 until math.max(0, nRes)).map(_ => r.u32()).toVector
      r.i32()                               // DiagnosticInfos
      PublishResult(servedSub, seq, available, ackResults, notifs)
    }

    /** Recover one retained notification message (Part 4 §5.13.5
      * Republish) — the reconnect path: re-request every sequence number
      * a Publish listed as available but the client never processed.
      */
    def republish(subscriptionId: Long, sequenceNumber: Long): Vector[(Long, WireValue)] = {
      val r = call { w =>
        writeNodeId(w, NodeIdT(0, RepublishRequestId))
        writeRequestHeader(w, authToken, System.currentTimeMillis(), requestId)
        w.u32(subscriptionId).u32(sequenceNumber)
      }
      parseNotificationMessage(r)._2
    }

    def closeSession(): Unit = {
      call { w =>
        writeNodeId(w, NodeIdT(0, CloseSessionRequestId))
        writeRequestHeader(w, authToken, System.currentTimeMillis(), requestId)
        w.bool(true)
      }
      ()
    }

    override def close(): Unit = {
      conv.close()
      try sock.close() catch { case _: Exception => () }
    }
  }

  /** The reference's session bootstrap
    * (`Helpers/OpcuaHelperFunctions.cs:72-136` GetSessionByUrl): discover
    * endpoints on a throwaway connection, require a SecurityMode-None
    * endpoint, then open + activate the real session — retrying the whole
    * sequence a bounded number of times (the reference gives up after 5
    * iterations with a 1.5 s pause).
    */
  def discoverAndConnect(host: String, port: Int, sessionName: String,
                         maxAttempts: Int = 5, pauseMs: Long = 1500L,
                         timeoutMs: Int = 30000,
                         identity: SessionIdentity = AnonymousIdentity): SessionClient = {
    var attempt = 0
    var lastErr: Throwable = null
    while (attempt < maxAttempts) {
      try {
        val disco = new SessionClient(host, port, timeoutMs)
        val chosen =
          try selectEndpoint(disco.getEndpoints())
          finally disco.close()
        if (chosen.isEmpty)
          throw new OpcuaError(BadSecurityChecksFailed,
            s"URI with NoSecurity not found for opc.tcp://$host:$port")
        val c = new SessionClient(host, port, timeoutMs)
        try {
          c.createSession(sessionName)
          c.activateSession(identity)
          return c
        } catch { case e: Throwable => try c.close() catch { case _: Exception => () }; throw e }
      } catch {
        case e: Exception =>
          lastErr = e
          attempt += 1
          if (attempt < maxAttempts && pauseMs > 0) Thread.sleep(pauseMs)
      }
    }
    throw new java.io.IOException(
      s"could not get session for opc.tcp://$host:$port after $maxAttempts attempts", lastErr)
  }
}
