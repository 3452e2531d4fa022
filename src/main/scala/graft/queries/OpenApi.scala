package graft.queries

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** `GET /api/schema` — the OpenAPI 3 document for the query plane, the
  * engine-side equivalent of the reference's drf-spectacular schema route
  * (api/urls.py:38-47). The document is generated from the route table
  * (QueryServer.routes, api/urls.py:49-132) that the server dispatches
  * from, so route/parameter names can't silently drift from the
  * implementation the way a hand-maintained JSON blob would.
  */
object OpenApi {

  private final case class Param(
      name: String, in: String, tpe: String, required: Boolean)

  /** A route's parameters in document order: its path id, its own query
    * params, then the pagination params of a paginated route — `after`,
    * the engine's keyset extension (not in the reference's schema), on
    * every route that serves it. */
  private def params(r: QueryServer.Route): Seq[Param] = {
    val path = r.path.split('/').toSeq.filter(_.startsWith("{")).map(p =>
      Param(p.stripPrefix("{").stripSuffix("}"), "path",
        if (QueryServer.IntegerIds(p)) "integer" else "string",
        required = true))
    val query = r.query.map(Param(_, "query", "string", required = false))
    val pages = r.serves match {
      case QueryServer.Pages(_, pageOnly) =>
        Seq(Param("page", "query", "integer", required = false),
          Param("page_size", "query", "integer", required = false)) ++
          (if (pageOnly) Nil
           else Seq(Param("after", "query", "string", required = false)))
      case _ => Nil
    }
    path ++ query ++ pages
  }

  /** components/schemas: one object per entity, properties generated
    * from the SAME field lists the serializers render (Serializers.*Fields
    * — reference Meta.fields: accounts/serializers.py:80-115,
    * donations/serializers.py:52-82, pots/serializers.py:121-264), so the
    * published field sets cannot drift from the rendered documents. The
    * server spec's audit additionally checks LIVE response keys against
    * these properties. */
  private val entities: Seq[(String, Seq[String])] = Seq(
    "Account" -> Serializers.accountFields,
    "Donation" -> Serializers.donationFields,
    "Pot" -> Serializers.potFields,
    "PotApplication" -> Serializers.potApplicationFields,
    "PotPayout" -> Serializers.potPayoutFields,
    "PotFactory" -> Serializers.potFactoryFields,
    "List" -> Serializers.listFields,
    "ListRegistration" -> Serializers.listRegistrationFields,
    "Stats" -> Serializers.statsFields)

  // Field types that are structurally CERTAIN under the DRF rendering
  // rules (string decimals, ISO timestamps). Embed fields (donor, pot,
  // token, owner, …) are deliberately untyped `{}`: an expanded frame
  // renders them as objects, an unexpanded one degrades to the raw FK
  // string — both are valid responses, so pinning a type would overclaim.
  private val intFields = Set("on_chain_id", "donors_count",
    "max_approved_applicants", "referral_fee_matching_pool_basis_points",
    "referral_fee_public_round_basis_points", "chef_fee_basis_points",
    "matching_pool_donations_count", "public_donations_count",
    "cooldown_period_ms", "total_donations_count", "total_donors_count",
    "total_recipients_count")
  private val boolFields = Set("matching_pool", "admin_only_registrations",
    "require_whitelist", "all_paid_out")
  private val numberFields = Set("total_donations_usd", "total_payouts_usd")
  private val tsFields = Set("donated_at", "deployed_at", "submitted_at",
    "updated_at", "created_at", "paid_at", "application_start",
    "application_end", "matching_round_start", "matching_round_end",
    "cooldown_end")
  private val stringFields = Set("id", "message", "tx_hash", "name",
    "description", "status", "base_currency", "cover_image_url",
    "default_registration_status", "registrant_notes", "admin_notes",
    "total_amount", "net_amount", "protocol_fee", "referrer_fee",
    "chef_fee", "amount", "total_matching_pool", "matching_pool_balance",
    "total_public_donations", "min_matching_pool_donation_amount",
    "total_donations_in_usd", "total_donations_out_usd",
    "total_matching_pool_allocations_usd", "total_amount_usd",
    "net_amount_usd", "protocol_fee_usd", "referrer_fee_usd",
    "chef_fee_usd", "amount_paid_usd")

  /** The OpenAPI 3.0.3 document as a JSON string (stable field order). */
  def schemaJson: String = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("openapi", "3.0.3")
    val info = root.putObject("info")
    info.put("title", "graft query plane")
    info.put("version", "v1")
    val paths = root.putObject("paths")
    QueryServer.routes.foreach { r =>
      val paginated = r.serves.isInstanceOf[QueryServer.Pages]
      val get = paths.putObject("/api" + r.path).putObject("get")
      get.put("summary", r.summary)
      val ps = get.putArray("parameters")
      params(r).foreach { pr =>
        val o = ps.addObject()
        o.put("name", pr.name)
        o.put("in", pr.in)
        o.put("required", pr.required)
        o.putObject("schema").put("type", pr.tpe)
      }
      val ok = get.putObject("responses").putObject("200")
      ok.put("description", if (paginated) "Paginated results" else "Result")
      val schema: ObjectNode = ok.putObject("content")
        .putObject("application/json").putObject("schema")
      def ref(n: ObjectNode, e: String): Unit =
        n.put("$ref", s"#/components/schemas/$e"): Unit
      if (paginated) {
        schema.put("type", "object")
        val props = schema.putObject("properties")
        // count/next/previous are nullable: next/previous at the walk's
        // ends on the page-number surface, all three under the ?after=
        // keyset continuation (count and previous are always null there —
        // the total-count job is what keyset avoids).
        props.putObject("count").put("type", "integer")
          .put("nullable", true)
        props.putObject("next").put("type", "string")
          .put("nullable", true)
        props.putObject("previous").put("type", "string")
          .put("nullable", true)
        val results = props.putObject("results")
        results.put("type", "array")
        r.entity.name.foreach(e => ref(results.putObject("items"), e))
      } else r.entity.name match {
        case Some(e) => ref(schema, e)
        case None =>
          // donate_contract_config: the chain contract's own config blob,
          // served verbatim — free-form by design.
          schema.put("type", "object")
          schema.put("additionalProperties", true): Unit
      }
    }
    // Full per-entity response shapes (the reference documents these via
    // drf-spectacular's serializer introspection).
    val schemas = root.putObject("components").putObject("schemas")
    entities.foreach { case (name, fields) =>
      val ent = schemas.putObject(name)
      ent.put("type", "object")
      val props = ent.putObject("properties")
      fields.foreach { f =>
        val p = props.putObject(f)
        if (intFields(f)) p.put("type", "integer"): Unit
        else if (boolFields(f)) p.put("type", "boolean"): Unit
        else if (numberFields(f)) p.put("type", "number"): Unit
        else if (tsFields(f)) {
          p.put("type", "string"); p.put("format", "date-time"): Unit
        } else if (stringFields(f)) p.put("type", "string"): Unit
        // embeds/blobs stay untyped {}: object when expanded, FK string
        // when flat, null when absent
        if (f != "id") p.put("nullable", true): Unit
      }
    }
    m.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  private val schemaRoute = "/api/schema/"

  /** GET /api/schema/swagger-ui/ (reference api/urls.py:40-44,
    * SpectacularSwaggerView): a static HTML shell that loads the published
    * swagger-ui assets and points them at [[schemaJson]]'s route. */
  def swaggerUiHtml: String =
    s"""<!DOCTYPE html>
       |<html>
       |<head>
       |  <title>graft query plane — Swagger UI</title>
       |  <link rel="stylesheet" href="https://unpkg.com/swagger-ui-dist/swagger-ui.css"/>
       |</head>
       |<body>
       |  <div id="swagger-ui"></div>
       |  <script src="https://unpkg.com/swagger-ui-dist/swagger-ui-bundle.js"></script>
       |  <script>
       |    SwaggerUIBundle({url: "$schemaRoute", dom_id: "#swagger-ui"});
       |  </script>
       |</body>
       |</html>""".stripMargin

  /** GET /api/schema/redoc/ (reference api/urls.py:45-47,
    * SpectacularRedocView). */
  def redocHtml: String =
    s"""<!DOCTYPE html>
       |<html>
       |<head>
       |  <title>graft query plane — ReDoc</title>
       |  <meta charset="utf-8"/>
       |</head>
       |<body>
       |  <redoc spec-url="$schemaRoute"></redoc>
       |  <script src="https://cdn.redoc.ly/redoc/latest/bundles/redoc.standalone.js"></script>
       |</body>
       |</html>""".stripMargin
}
