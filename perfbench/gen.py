"""Seeded input generators for the three benchmark workloads.

Each generator fixes the traffic dimensions (sizes, shares) as module
constants and lets the seed choose only the content: which customers an
order points at, which pages carry an alias or take the XML walker,
which records change between versions. Two seeds therefore give inputs
of identical shape, so run-to-run spread measures the engine, not the
data. Every generator also returns the ground truth its workload's
correctness check compares against.

Where each dimension comes from is noted beside it. Sizes are set from
timings of this benchmark (see README.md, "Input sizes"). Most shares
are unverified choices: no measured user traffic stands behind them, so
the mixes load each layer but are not claimed to be representative.

Nothing here imports Spark: inputs are written with pyarrow before the
session exists, outside every timed window.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

EX = "http://example.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"

# -- rml_tables --------------------------------------------------------------

TABLES_DIMS = {
    # sized so that volume, not per-call fixed cost, is most of a warm
    # mapping run: 760k distinct quads
    "customers": 40_000,
    # four orders per customer: an unverified choice
    "orders": 160_000,
    # rows of the visits table; each emits a Customer class triple that the
    # Customer map already emits, so all of them are duplicate quads
    # (about 10 % of emitted quads: an unverified choice)
    "visits": 80_000,
    # share of customer names carrying a quote, backslash or non-ASCII
    # character, so the N-Quads escaping round trip is exercised (an
    # unverified choice)
    "escaped_name_share": 0.02,
    "sample_subjects": 64,
}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
WORDS = ["alpha", "bravo", "delta", "echo", "kilo", "lima", "nova", "oscar", "tango", "zulu"]
ODD_NAME_PARTS = ['say "hi"', "back\\slash", "Ærøskøbing", "naïve café", "tab\there"]

TABLES_MAPPING = """
ex:Customer a rr:TriplesMap ;
    rml:logicalSource [ rml:source "customers" ;
        rml:referenceFormulation <urn:rml-spark:ql/Table> ] ;
    rr:subjectMap [ rr:template "http://example.org/customer/{c_id}" ;
        rr:class <http://example.org/Customer> ] ;
    rr:predicateObjectMap [ rr:predicateMap [ rr:constant rdfs:label ] ;
        rr:objectMap [ rml:reference "c_name" ] ] ;
    rr:predicateObjectMap [ rr:predicateMap [ rr:constant <http://example.org/segment> ] ;
        rr:objectMap [ rml:reference "c_segment" ] ] .

ex:Order a rr:TriplesMap ;
    rml:logicalSource [ rml:source "orders" ;
        rml:referenceFormulation <urn:rml-spark:ql/Table> ] ;
    rr:subjectMap [ rr:template "http://example.org/order/{o_id}" ;
        rr:class <http://example.org/Order> ] ;
    rr:predicateObjectMap [ rr:predicateMap [ rr:constant <http://example.org/total> ] ;
        rr:objectMap [ rml:reference "o_total" ] ] ;
    rr:predicateObjectMap [ rr:predicateMap [ rr:constant <http://example.org/status> ] ;
        rr:objectMap [ rml:reference "o_status" ] ] ;
    rr:predicateObjectMap [ rr:predicateMap [ rr:constant <http://example.org/customer> ] ;
        rr:objectMap [ rr:parentTriplesMap ex:Customer ;
            rr:joinCondition [ rr:child "o_cust" ; rr:parent "c_id" ] ] ] .

ex:Visit a rr:TriplesMap ;
    rml:logicalSource [ rml:source "visits" ;
        rml:referenceFormulation <urn:rml-spark:ql/Table> ] ;
    rr:subjectMap [ rr:template "http://example.org/customer/{v_cust}" ;
        rr:class <http://example.org/Customer> ] .
"""


def _write_parquet(path: str, columns: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(columns), path)


def _customer_name(rng: random.Random, i: int, odd_share: float) -> str:
    name = f"Customer {rng.choice(WORDS)} {i}"
    if rng.random() < odd_share:
        name += " " + rng.choice(ODD_NAME_PARTS)
    return name


def gen_tables(seed: int, work: str) -> dict:
    """Customer/order/visit parquet tables, the mapping's source bindings,
    the closed-form distinct quad count and the exact quads of a seeded
    sample of subjects."""
    d = TABLES_DIMS
    rng = random.Random(seed)
    n_c, n_o, n_v = d["customers"], d["orders"], d["visits"]
    names = [_customer_name(rng, i, d["escaped_name_share"]) for i in range(n_c)]
    segs = [rng.choice(SEGMENTS) for _ in range(n_c)]
    o_cust = [rng.randrange(n_c) for _ in range(n_o)]
    o_total = [rng.randrange(100, 1_000_000) for _ in range(n_o)]
    o_status = [rng.choice(STATUSES) for _ in range(n_o)]
    v_cust = [rng.randrange(n_c) for _ in range(n_v)]
    paths = {t: os.path.join(work, "tables", f"{t}.parquet") for t in ("customers", "orders", "visits")}
    _write_parquet(paths["customers"], {"c_id": list(range(n_c)), "c_name": names, "c_segment": segs})
    _write_parquet(
        paths["orders"],
        {"o_id": list(range(n_o)), "o_cust": o_cust, "o_total": o_total, "o_status": o_status},
    )
    _write_parquet(paths["visits"], {"v_cust": v_cust})

    def cust(i: int) -> str:
        return f"{EX}customer/{i}"

    expected: dict[str, set] = {}
    for i in rng.sample(range(n_c), d["sample_subjects"] // 2):
        expected[cust(i)] = {
            (cust(i), RDF_TYPE, EX + "Customer", "IRI"),
            (cust(i), RDFS_LABEL, names[i], "Literal"),
            (cust(i), EX + "segment", segs[i], "Literal"),
        }
    for j in rng.sample(range(n_o), d["sample_subjects"] // 2):
        s = f"{EX}order/{j}"
        expected[s] = {
            (s, RDF_TYPE, EX + "Order", "IRI"),
            (s, EX + "total", str(o_total[j]), "Literal"),
            (s, EX + "status", o_status[j], "Literal"),
            (s, EX + "customer", cust(o_cust[j]), "IRI"),
        }
    emitted = 3 * n_c + 4 * n_o + n_v
    distinct = 3 * n_c + 4 * n_o
    return {
        "mapping": TABLES_MAPPING,
        "bindings": {t: f"table:{p}" for t, p in paths.items()},
        "quads": distinct,
        "emitted_quads": emitted,
        "sample": expected,
        "dims": dict(d, duplicate_share=round(1 - distinct / emitted, 4)),
    }


# -- kg_pipeline -------------------------------------------------------------

PAGES_DIMS = {
    # sized so that volume, not per-call fixed cost, is most of a warm
    # run_pipeline call: 400k triples
    "pages": 100_000,
    # with two triples per record, four triples per page, as in an
    # earlier run_pipeline sizing probe (400k pages, 1.6M triples)
    "records_per_page": 2,
    # share of page urls on one hot domain (skew in the url column): an
    # unverified choice
    "hot_domain_share": 0.1,
    # share of pages whose record set declares xmlns or nests <data>, so
    # the engine routes them through the Python tree walker: an
    # unverified choice
    "walker_share": 0.02,
    # share of records whose label is a dictionary alias, linked to one of
    # ``canonical_groups`` canonical IRIs. 1 % follows that sizing
    # probe (an alias for every 100th page); the group count is an
    # unverified choice
    "alias_share": 0.01,
    "canonical_groups": 50,
}

PAGES_MAPPING = """
ex:map_pages a rr:TriplesMap ;
    rml:logicalSource [ a rml:LogicalSource ;
        rml:source "pages" ;
        rml:iterator "//data" ;
        rml:referenceFormulation ql:XPath ] ;
    rr:subjectMap [ a rr:SubjectMap ; rr:template "http://example.org/e/{@id}" ;
        rr:class <http://example.org/Entity> ] ;
    rr:predicateObjectMap [
        rr:predicateMap [ rr:constant rdfs:label ] ;
        rr:objectMap [ rml:reference "@label" ; rr:termType rr:Literal ] ] .
"""


def gen_pages(seed: int, work: str) -> dict:
    """Page table (url, warc_ts, html, text, lang) whose ``text`` holds an
    XML record set, plus an alias dictionary. Returns the predicted triple
    count and subject counts after canonicalization."""
    d = PAGES_DIMS
    rng = random.Random(seed)
    n_p, per = d["pages"], d["records_per_page"]
    walker_pages = set(rng.sample(range(n_p), int(n_p * d["walker_share"])))
    n_records = n_p * per
    alias_records = set(rng.sample(range(n_records), int(n_records * d["alias_share"])))
    urls, ts, html, text, lang = [], [], [], [], []
    aliases, canon = [], []
    groups_used = set()
    for i in range(n_p):
        hot = rng.random() < d["hot_domain_share"]
        domain = "http://hot.example.org/page/" if hot else f"http://site-{rng.randrange(997)}.example.org/page/"
        recs = []
        for r in range(per):
            k = i * per + r
            rid = f"{i:08d}-{r}"
            label = f"label {rid} {rng.choice(WORDS)}{rng.randrange(1000)}"
            if k in alias_records:
                g = rng.randrange(d["canonical_groups"])
                groups_used.add(g)
                aliases.append(label)
                canon.append(f"{EX}canon/group{g}")
            recs.append((rid, label))
        if i in walker_pages and i % 2:
            body = (
                '<resource xmlns="http://example.org/ns">'
                + "".join(f'<data id="{a}" label="{b}"></data>' for a, b in recs)
                + "</resource>"
            )
        elif i in walker_pages:
            (a0, b0), rest = recs[0], recs[1:]
            inner = "".join(f'<data id="{a}" label="{b}"/>' for a, b in rest)
            body = f'<resource><data id="{a0}" label="{b0}">{inner}</data></resource>'
        else:
            body = "<resource>" + "".join(f'<data id="{a}" label="{b}"></data>' for a, b in recs) + "</resource>"
        urls.append(f"{domain}{i:08d}")
        ts.append(1_704_067_200_000_000 + i * 1_000_000)
        html.append(f"<html><head><title>page {i:08d}</title></head><body>{body}</body></html>".encode())
        text.append(body)
        lang.append(rng.choice(["en", "nl", "fr", "de"]))
    pages = os.path.join(work, "pages", "pages.parquet")
    os.makedirs(os.path.dirname(pages), exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "url": urls,
                "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "html": pa.array(html, pa.binary()),
                "text": text,
                "lang": lang,
            }
        ),
        pages,
    )
    alias_path = os.path.join(work, "aliases", "aliases.parquet")
    _write_parquet(alias_path, {"alias": aliases, "canonical_iri": canon})
    n_linked = len(alias_records)
    return {
        "mapping": PAGES_MAPPING,
        "pages_path": os.path.dirname(pages),
        "alias_path": alias_path,
        # one rdf:type and one rdfs:label triple per record
        "triples": 2 * n_records,
        # every record is its own entity until linking merges the aliased
        # ones into their group's canonical IRI
        "subjects": n_records - n_linked + len(groups_used),
        "canonical_subject_triples": 2 * n_linked,
        "records": n_records,
        "walker_docs": len(walker_pages),
        "edges": n_linked,
        "components": len(groups_used),
        "dims": dict(d),
    }


# -- incrml_snapshots --------------------------------------------------------

SNAPSHOT_DIMS = {
    # small enough that a snapshot's fixed cost dominates: in an earlier
    # sizing probe a stateful snapshot took about as long at 2 records as
    # at 5k. The exact value is an unverified choice inside that range.
    "records_per_version": 200,
    # per version, counted against the previous version's records; all
    # three shares are unverified choices
    "update_share": 0.05,
    "create_share": 0.02,
    "delete_share": 0.02,
}

SNAPSHOT_YARRRML = """
prefixes:
    ex: "http://example.org/"
    rdfs: "http://www.w3.org/2000/01/rdf-schema#"
mappings:
    item:
        sources:
            - ["dataset/items.xml~xpath", "//data"]
        s: ex:item/$(@id)
        po:
            - [a, ex:Item]
            - [rdfs:label, $(@label)]
            - [ex:price, $(@price)]
"""
SNAPSHOT_SOURCE = "dataset/items.xml"


class SnapshotVersions:
    """Seeded sequence of complete dataset versions. ``next()`` returns
    the XML document of the next version and the ground-truth Create,
    Update and Delete subject sets against the previous version."""

    def __init__(self, seed: int):
        d = SNAPSHOT_DIMS
        self.rng = random.Random(seed)
        self.n = d["records_per_version"]
        self.n_upd = round(self.n * d["update_share"])
        self.n_new = round(self.n * d["create_share"])
        self.n_del = round(self.n * d["delete_share"])
        self.next_id = 0
        self.records: dict[int, tuple[str, str]] | None = None

    def _new_record(self) -> tuple[int, tuple[str, str]]:
        i = self.next_id
        self.next_id += 1
        return i, (f"item {i} {self.rng.choice(WORDS)}", str(self.rng.randrange(1, 10_000)))

    def next(self) -> tuple[str, dict[str, set[str]]]:
        if self.records is None:
            self.records = dict(self._new_record() for _ in range(self.n))
            events = {"Create": set(self.records), "Update": set(), "Delete": set()}
        else:
            ids = sorted(self.records)
            gone = self.rng.sample(ids, self.n_del)
            for i in gone:
                del self.records[i]
            changed = self.rng.sample(sorted(self.records), self.n_upd)
            for i in changed:
                label, price = self.records[i]
                self.records[i] = (label, str(int(price) + 1 + self.rng.randrange(100)))
            fresh = dict(self._new_record() for _ in range(self.n_new))
            self.records.update(fresh)
            events = {"Create": set(fresh), "Update": set(changed), "Delete": set(gone)}
        xml = "<resource>" + "".join(
            f'<data id="{i}" label="{label}" price="{price}"/>' for i, (label, price) in self.records.items()
        ) + "</resource>"
        return xml, {k: {f"{EX}item/{i}" for i in v} for k, v in events.items()}
