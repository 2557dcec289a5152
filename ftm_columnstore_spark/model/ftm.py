"""Minimal FollowTheMoney (FtM) ontology metadata, vendored as plain data.

The reference relies on the public ``followthemoney`` library for schema
hierarchy checks (``statements.py:56`` — ``schema.is_a("Mention")`` /
``is_a("LegalEntity")``), property types carried in the ``prop_type``
statement column (``engine.py:136``), reversed properties for inverted
lookups (SURVEY §2.3 J1), and caption selection (SURVEY §2.9 X13).

We vendor only the slice of the (public, YAML-defined) FtM model that the
engine's semantics depend on — as data, not code, so it can be broadcast to
executors and used in pure-column expressions. Unknown schemata/props fall
back to sensible defaults (parent ``Thing``, type ``string``), so the engine
degrades gracefully on ontology drift rather than erroring.
"""

from __future__ import annotations

from functools import lru_cache

# --- schema hierarchy -------------------------------------------------------
# child -> tuple of direct parents (FtM allows multiple inheritance).
SCHEMA_PARENTS: dict[str, tuple[str, ...]] = {
    "Thing": (),
    "Analyzable": (),
    "Value": (),
    "Interval": (),
    "Mention": ("Interval",),
    "LegalEntity": ("Thing",),
    "Person": ("LegalEntity",),
    "Organization": ("LegalEntity",),
    "Company": ("Organization", "Asset"),
    "PublicBody": ("Organization",),
    "Asset": ("Value", "Thing"),
    "Address": ("Thing",),
    "Payment": ("Interval", "Value"),
    "Event": ("Interval", "Analyzable", "Thing"),
    "Document": ("Thing", "Analyzable"),
    "Documentation": ("Interval",),
    "Family": ("Interval",),
    "Membership": ("Interval",),
    "Ownership": ("Interval",),
    "Directorship": ("Interval",),
    "Occupancy": ("Interval",),
    "Sanction": ("Interval",),
    "Identification": ("Interval",),
    "Passport": ("Identification",),
    "Position": ("Thing",),
    "Vessel": ("Vehicle",),
    "Vehicle": ("Asset",),
    "RealEstate": ("Asset",),
    "BankAccount": ("Asset",),
    "Security": ("Asset",),
    "Contract": ("Asset",),
    "ContractAward": ("Interval", "Value"),
    "CourtCase": ("Thing",),
    "CourtCaseParty": ("Interval",),
    "EconomicActivity": ("Interval",),
    "Airplane": ("Vehicle",),
    "Note": ("Analyzable",),
    "CallForTenders": ("Thing",),
    "Project": ("Thing", "Interval"),
    "ProjectParticipant": ("Interval",),
    "Representation": ("Interval",),
    "Succession": ("Interval",),
    "UnknownLink": ("Interval",),
    "Associate": ("Interval",),
    "Debt": ("Interval", "Value"),
    "Employment": ("Interval",),
    "License": ("Contract",),
    "Message": ("Document", "Interval"),
    "Page": ("Document",),
    "Pages": ("Document",),
    "Email": ("Document", "Interval", "PlainText"),
    "PlainText": ("Document",),
    "Table": ("Document",),
    "Workbook": ("Document",),
    "Image": ("Document",),
    "Video": ("Document",),
    "Audio": ("Document",),
    "Folder": ("Document",),
    "Package": ("Folder",),
    "HyperText": ("Document",),
}


@lru_cache(maxsize=None)
def schema_ancestors(schema: str) -> frozenset[str]:
    """All schemata ``schema`` is_a, including itself."""
    out: set[str] = {schema}
    for parent in SCHEMA_PARENTS.get(schema, ("Thing",) if schema != "Thing" else ()):
        out |= schema_ancestors(parent)
    return frozenset(out)


def is_a(schema: str, ancestor: str) -> bool:
    return ancestor in schema_ancestors(schema)


@lru_cache(maxsize=None)
def schema_descendants(schema: str) -> frozenset[str]:
    """All known schemata that are_a ``schema`` (incl. itself). Used for the
    ftmq-style hierarchy-expanding schema filter (SURVEY §2.2 F2)."""
    return frozenset(
        s for s in SCHEMA_PARENTS if schema in schema_ancestors(s)
    ) | {schema}


@lru_cache(maxsize=None)
def schema_depth(schema: str) -> int:
    """Hierarchy depth; deeper == more specific. Drives the "most specific
    schema wins" rule in entity assembly (SURVEY §2.6)."""
    parents = SCHEMA_PARENTS.get(schema)
    if not parents:
        # Unknown schemata sit just below Thing so any known child wins.
        return 0 if schema in SCHEMA_PARENTS else 1
    return 1 + max(schema_depth(p) for p in parents)


#: Schemata whose name statements get phonetic fingerprints
#: (reference: statements.py:52-58 — is_a Mention or LegalEntity).
NAME_SCHEMAS: frozenset[str] = frozenset(
    s
    for s in SCHEMA_PARENTS
    if is_a(s, "LegalEntity") or is_a(s, "Mention")
)

# --- property types ---------------------------------------------------------
# prop name -> FtM type; mirrors the ``prop_type`` column semantics
# (engine.py:136). Only types matter to the engine: ``entity`` marks graph
# edges, ``name`` marks fingerprint-eligible values, ``number``/``date``
# drive coercion, the rest are informational.
PROP_TYPES: dict[str, str] = {
    # names
    "name": "name",
    "alias": "name",
    "weakAlias": "name",
    "previousName": "name",
    "namesMentioned": "name",
    "title": "name",
    # entity references (graph edges)
    "addressEntity": "entity",
    "beneficiary": "entity",
    "payer": "entity",
    "owner": "entity",
    "asset": "entity",
    "director": "entity",
    "organization": "entity",
    "member": "entity",
    "person": "entity",
    "holder": "entity",
    "parent": "entity",
    "subsidiary": "entity",
    "successor": "entity",
    "predecessor": "entity",
    "entity": "entity",
    "document": "entity",
    "resolved": "entity",
    "detection": "entity",
    "agent": "entity",
    "client": "entity",
    "debtor": "entity",
    "creditor": "entity",
    "employer": "entity",
    "employee": "entity",
    "contract": "entity",
    "supplier": "entity",
    "authority": "entity",
    "relative": "entity",
    "associate": "entity",
    "proof": "entity",
    "familyPerson": "entity",
    "ownershipOwner": "entity",
    # numbers
    "amount": "number",
    "amountEur": "number",
    "amountUsd": "number",
    "percentage": "number",
    "sharesCount": "number",
    "sharesValue": "number",
    "deadweightTonnage": "number",
    "grossRegisteredTonnage": "number",
    # dates
    "date": "date",
    "startDate": "date",
    "endDate": "date",
    "birthDate": "date",
    "deathDate": "date",
    "incorporationDate": "date",
    "dissolutionDate": "date",
    "modifiedAt": "date",
    "retrievedAt": "date",
    "publishedAt": "date",
    "authoredAt": "date",
    "listingDate": "date",
    # countries
    "country": "country",
    "jurisdiction": "country",
    "nationality": "country",
    "mainCountry": "country",
    "registrationCountry": "country",
    # urls
    "website": "url",
    "sourceUrl": "url",
    "wikipediaUrl": "url",
    # identifiers
    "registrationNumber": "identifier",
    "idNumber": "identifier",
    "taxNumber": "identifier",
    "vatCode": "identifier",
    "passportNumber": "identifier",
    "imoNumber": "identifier",
    "isin": "identifier",
    "iban": "identifier",
    "swiftBic": "identifier",
    "leiCode": "identifier",
    "innCode": "identifier",
    "ogrnCode": "identifier",
    # long text
    "description": "text",
    "summary": "text",
    "notes": "text",
    "bodyText": "text",
    "address": "address",
    "full": "address",
    # emails / phones
    "email": "email",
    "phone": "phone",
    # plain strings (subset; anything absent defaults to "string")
    "city": "string",
    "street": "string",
    "postalCode": "string",
    "region": "string",
    "legalForm": "string",
    "status": "string",
    "sector": "string",
    "keywords": "string",
    "purpose": "string",
    "program": "string",
    "role": "string",
    "position": "string",
    "gender": "string",
    "currency": "string",
    "sourceValue": "string",
    "remarks": "string",
}


def prop_type(prop: str) -> str:
    return PROP_TYPES.get(prop, "string")


#: Types whose values participate in full-text ``search()``.
#: Parity-calibrated against the reference golden (ftmq search matches
#: name-typed values only: reference tests/test_store.py:260-263 expects
#: 23 "agency" hits in eu_authorities — exactly the name/alias/weakAlias
#: matches; including string/text types would yield 51).
SEARCHABLE_TYPES: frozenset[str] = frozenset({"name"})

# --- reversed properties ----------------------------------------------------
# prop -> name of the reverse edge shown on the referenced entity
# (SURVEY §2.3 J1: view.get_inverted returns the *reversed* FtM prop).
REVERSE_PROPS: dict[str, str] = {
    "beneficiary": "paymentsReceived",
    "payer": "paymentsMade",
    "addressEntity": "things",
    "owner": "ownershipOwner",
    "asset": "ownershipAsset",
    "director": "directorshipDirector",
    "organization": "membershipOrganization",
    "member": "membershipMember",
    "entity": "mentions",
    "parent": "subsidiaries",
    "holder": "occupancies",
    "employer": "employers",
    "employee": "employees",
}


# --- captions ---------------------------------------------------------------
# schema -> ordered caption property precedence (first non-empty wins).
# FtM default Thing caption is ["name"]; Address uses "full".
CAPTION_PROPS: dict[str, tuple[str, ...]] = {
    "Thing": ("name",),
    "Address": ("full", "name"),
    "Person": ("name", "alias"),
    "Document": ("title", "name"),
    "Payment": ("name", "purpose"),
}

#: Flattened global precedence used by the columnar caption expression:
#: per-schema lists are small; we coalesce in this order and it reproduces
#: the reference goldens (caption == first name value for LegalEntities,
#: full for Addresses).
CAPTION_ORDER: tuple[str, ...] = ("name", "title", "full", "alias", "purpose")


def caption_props(schema: str) -> tuple[str, ...]:
    for anc in (schema, *sorted(schema_ancestors(schema))):
        if anc in CAPTION_PROPS:
            return CAPTION_PROPS[anc]
    return ("name",)
