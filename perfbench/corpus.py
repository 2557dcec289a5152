"""Seeded synthetic FollowTheMoney corpus, plus the answers the benchmark
checks the store's outputs against.

Person, Company and Organization entities draw their names from shared
pools, so fingerprint blocking finds realistic candidate blocks; a fixed
share of them is copied into the other dataset under a new id (half of the
copies with a one-letter typo), which gives the resolver true duplicates to
merge. Payments carry ``amountEur``, partial ``date`` values and entity-ref
``payer``/``beneficiary``; Addresses are referenced by ``addressEntity``.

Everything here is plain Python: the package only ever sees the JSON-lines
files :func:`write_batches` produces.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass

DATASETS = ("registry", "donations")
COUNTRIES = ("de", "fr", "gb", "it", "nl", "pl", "ru", "us")
COMPANY_KINDS = ("Holdings", "Trading", "Partners", "Industries", "Logistics")
ORG_KINDS = ("Agency", "Foundation", "Council", "Institute", "Ministry")
CITIES = ("Berlin", "Paris", "London", "Milan", "Utrecht", "Gdansk", "Kazan")
SYLLABLES = (
    "ka", "lo", "mi", "ra", "ten", "vor", "sel", "dan", "bri", "gu", "hal",
    "mer", "nik", "os", "per", "qui", "ros", "sta", "tur", "vel", "wen", "zor",
)


@dataclass(frozen=True)
class CorpusSpec:
    """Sizes of one corpus. Pool sizes set how many entities share a name
    token, and so the candidate-pair count of blocking."""

    people: int = 600
    companies: int = 300
    orgs: int = 100
    addresses: int = 200
    payments: int = 800
    first_pool: int = 150
    last_pool: int = 200
    word_pool: int = 120
    dup_share: float = 0.08


def _word(rng: random.Random, parts: int) -> str:
    return "".join(rng.choice(SYLLABLES) for _ in range(parts)).capitalize()


def _pool(rng: random.Random, n: int, parts: int) -> list[str]:
    seen: dict[str, None] = {}
    while len(seen) < n:
        seen[_word(rng, parts)] = None
    return list(seen)


def _typo(rng: random.Random, name: str) -> str:
    i = rng.randrange(1, len(name) - 1)
    if name[i] == " ":
        i -= 1
    c = "x" if name[i] != "x" else "z"
    return name[:i] + c + name[i + 1:]


def _date(rng: random.Random) -> str:
    year = rng.randint(2005, 2022)
    shape = rng.randrange(3)
    if shape == 0:
        return str(year)
    month = f"{year}-{rng.randint(1, 12):02d}"
    return month if shape == 1 else f"{month}-{rng.randint(1, 28):02d}"


def generate(seed: int, spec: CorpusSpec = CorpusSpec()) -> list[dict]:
    """The corpus as FtM entity dicts (``id``, ``schema``, ``properties``,
    ``datasets``), in a deterministic order."""
    rng = random.Random(seed)
    firsts = _pool(rng, spec.first_pool, 3)
    lasts = _pool(rng, spec.last_pool, 3)
    words = _pool(rng, spec.word_pool, 2)
    out: list[dict] = []

    def add(schema: str, idx: int, props: dict) -> dict:
        ent = {
            "id": f"{schema.lower()}-{seed}-{idx:06d}",
            "schema": schema,
            "properties": {k: [str(v)] for k, v in props.items()},
            "datasets": [rng.choice(DATASETS)],
        }
        out.append(ent)
        return ent

    addresses = [
        add("Address", i, {
            "full": f"{rng.randint(1, 200)} {rng.choice(words)} Street, "
                    f"{rng.choice(CITIES)}",
            "city": rng.choice(CITIES),
            "country": rng.choice(COUNTRIES),
        })
        for i in range(spec.addresses)
    ]
    named: list[dict] = []
    for i in range(spec.people):
        named.append(add("Person", i, {
            "name": f"{rng.choice(firsts)} {rng.choice(lasts)}",
            "country": rng.choice(COUNTRIES),
            "birthDate": _date(rng),
            "addressEntity": rng.choice(addresses)["id"],
        }))
    for i in range(spec.companies):
        named.append(add("Company", i, {
            "name": f"{rng.choice(words)} {rng.choice(words)} "
                    f"{rng.choice(COMPANY_KINDS)}",
            "jurisdiction": rng.choice(COUNTRIES),
            "registrationNumber": f"HRB{rng.randint(10000, 99999)}",
            "addressEntity": rng.choice(addresses)["id"],
        }))
    for i in range(spec.orgs):
        named.append(add("Organization", i, {
            "name": f"{rng.choice(words)} {rng.choice(ORG_KINDS)}",
            "country": rng.choice(COUNTRIES),
        }))
    # duplicates: same schema and props under a new id in the other
    # dataset; half keep the name, half carry a one-letter typo
    for j, src in enumerate(rng.sample(named, int(len(named) * spec.dup_share))):
        props = {k: v[0] for k, v in src["properties"].items()}
        if j % 2:
            props["name"] = _typo(rng, props["name"])
        dup = add(src["schema"], 100_000 + j, props)
        dup["datasets"] = [d for d in DATASETS if d != src["datasets"][0]]
        dup["dup_of"] = src["id"]
        named.append(dup)
    payers = [e for e in named if e["schema"] != "Organization"]
    for i in range(spec.payments):
        add("Payment", i, {
            "amountEur": f"{rng.randint(100, 500_000)}.{rng.randint(0, 99):02d}",
            "date": _date(rng),
            "payer": rng.choice(payers)["id"],
            "beneficiary": rng.choice(named)["id"],
            "currency": "EUR",
        })
    return out


def statements_of(ent: dict) -> int:
    """Statement rows the store writes for one entity (one per value plus
    the synthetic ``id`` statement, per dataset)."""
    values = sum(len(v) for v in ent["properties"].values())
    return (values + 1) * len(ent["datasets"])


def digest(entities: list[dict]) -> str:
    """Content digest of a corpus (order-sensitive, key-order-insensitive)."""
    h = hashlib.sha1()
    for ent in entities:
        h.update(json.dumps(_public(ent), sort_keys=True).encode())
    return h.hexdigest()


def _public(ent: dict) -> dict:
    return {k: ent[k] for k in ("id", "schema", "properties", "datasets")}


def write_batches(
    entities: list[dict], root: str, batch_size: int
) -> list[tuple[str, int]]:
    """Write ``entities`` as JSON-lines files of ``batch_size`` entities;
    returns ``(path, statement_count)`` per batch."""
    os.makedirs(root, exist_ok=True)
    out = []
    for b, start in enumerate(range(0, len(entities), batch_size)):
        chunk = entities[start:start + batch_size]
        path = os.path.join(root, f"batch-{b:03d}.json")
        with open(path, "w") as fh:
            for ent in chunk:
                fh.write(json.dumps(_public(ent)) + "\n")
        out.append((path, sum(statements_of(e) for e in chunk)))
    return out


class Answers:
    """What the store must return for this corpus, computed in Python."""

    def __init__(self, entities: list[dict]):
        self.by_id = {e["id"]: e for e in entities}
        self.entities = entities
        self.statements = sum(statements_of(e) for e in entities)
        self.name_statements = sum(
            len(e["properties"].get("name", ()))
            for e in entities
            if e["schema"] in ("Person", "Company", "Organization")
        )

    def props(self, entity_id: str) -> dict[str, list[str]]:
        return {
            k: sorted(set(v))
            for k, v in self.by_id[entity_id]["properties"].items()
        }

    def outgoing(self, entity_id: str) -> set[tuple[str, str]]:
        """(prop, target) entity references of one entity."""
        props = self.by_id[entity_id]["properties"]
        return {
            (p, v)
            for p in ("addressEntity", "payer", "beneficiary")
            for v in props.get(p, ())
        }

    def incoming(self, entity_id: str) -> set[str]:
        """Ids of entities that reference ``entity_id``."""
        return {
            e["id"]
            for e in self.entities
            if any(entity_id in v for v in e["properties"].values())
            and e["id"] != entity_id
        }
