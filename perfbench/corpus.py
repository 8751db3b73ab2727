"""Seeded synthetic page corpora for the pipeline benchmark.

Every page is built from a small set of hand-written templates. Each
template emits its text together with the triples that text denotes,
written out by hand from the Turtle 1.1, JSON-LD 1.0, RDFa Lite 1.1 and
HTML microdata specs. No parser of the program under test is consulted,
so every expected output below is derived by construction:

* per page: the distinct triples (lineage ``n_triples``), parse status
  and, for embedded pages, the triples per syntax;
* the owl:sameAs components and their lexicographic-min canonical IRI
  (the ``canonical_map``);
* the (page, entity) pairs entity linking must find;
* the canonical triple table after linking and sameAs rewriting, and
  from it the row count of every pattern lookup.

Terms in expected triples: an IRI is a ``str``; a blank node is
``("b", n)`` with ``n`` unique within its page; a literal is
``("l", lexical, tag)`` with the language or datatype as ``tag``.
Blank-node labels and literal spellings never matter for counting:
pages are distinct by url, and within a page the templates never emit
the same triple twice except where a template says so.
"""

from __future__ import annotations

import datetime as dt
import itertools
import math
import random
import statistics
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDF + "type"
RDF_FIRST, RDF_REST, RDF_NIL = RDF + "first", RDF + "rest", RDF + "nil"
XSD = "http://www.w3.org/2001/XMLSchema#"
OWL_SAME_AS = "http://www.w3.org/2002/07/owl#sameAs"
EX = "http://bench.example.org/ns#"
RES = "http://bench.example.org/res/"
SAME = "http://bench.example.org/same/"
ENTITY = "http://bench.example.org/entity/"
SCHEMA = "http://schema.org/"
# ex:mentions, the predicate entity linking lifts links to
# (tortank_spark.linking.MENTIONS_PRED)
MENTIONS = "http://tortank-spark.dev/ns#mentions"

BASE_TS = dt.datetime(2025, 10, 17, tzinfo=dt.timezone.utc)

# filler vocabulary: none of these contains a markup trigger token
# ("property", "typeof", "itemscope", "ld+json") or an alias prefix
WORDS = (
    "river stone market window garden silver harbor meadow lantern "
    "copper orchard signal canyon velvet ember quarry tide prairie "
    "compass falcon willow marble thunder cedar glacier saddle beacon "
    "harvest summit pebble violet anchor timber crimson drift island "
    "mosaic pepper rocket sparrow tundra walnut yellow zephyr basin "
    "candle domain engine fabric gravel hollow ivory jungle kettle"
).split()

TURTLE_PREFIXES = (
    f"@prefix ex: <{EX}> .\n"
    f"@prefix res: <{RES}> .\n"
    f"@prefix xsd: <{XSD}> .\n"
    "@prefix owl: <http://www.w3.org/2002/07/owl#> .\n\n"
)


def _lit(value: str, tag: str) -> tuple:
    return ("l", value, tag)


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _stamp(rng: random.Random) -> str:
    return (f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}T"
            f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:"
            f"{rng.randint(0, 59):02d}Z")


def _schedule(rng: random.Random, values: list) -> list:
    """``values`` in a seeded order. Sizes and mixes come from fixed
    schedules so every seed yields a corpus of the same shape; the
    seed decides which page gets which value, and the names and
    words."""
    out = list(values)
    rng.shuffle(out)
    return out


def _spread(n: int, lo: int, hi: int) -> list[int]:
    """n integers evenly spaced over [lo, hi]."""
    return [lo + (hi - lo) * k // max(n - 1, 1) for k in range(n)]


@dataclass
class Page:
    url: str
    text: str
    html: str
    broken: bool = False
    # syntax -> the triples the page yields in that syntax (a template
    # may repeat one; the extractors deduplicate per page and syntax)
    triples: dict[str, list[tuple]] = field(default_factory=dict)
    aliases: list[str] = field(default_factory=list)

    def all_triples(self) -> set[tuple]:
        return {t for ts in self.triples.values() for t in ts}


@dataclass
class Corpus:
    workload: str
    syntax_mode: str
    pages: list[Page]
    aliases: list[tuple[str, str, float]]  # (alias, entity_iri, prior)
    components: list[list[str]]  # sameAs node sets

    # -- expected outputs, all by construction --------------------------

    def canonical_map(self) -> dict[str, str]:
        out = {}
        for comp in self.components:
            canon = min(comp)
            for iri in comp:
                out[iri] = canon
        return out

    def link_pairs(self) -> set[tuple[str, str]]:
        entity = {a: e for a, e, _ in self.aliases}
        return {(p.url, entity[a]) for p in self.pages for a in p.aliases}

    def lineage(self) -> dict[str, tuple[int, bool]]:
        """url -> (n_triples, parse_ok) as the pipeline's lineage table
        records them."""
        return {p.url: (len(p.all_triples()), not p.broken)
                for p in self.pages}

    def n_broken(self) -> int:
        return sum(p.broken for p in self.pages)

    def canonical_rows(self) -> list[tuple]:
        """The canonical triple table as (url, s, p, o) rows: page
        triples plus link triples, s/o rewritten through the sameAs
        map, deduplicated per page."""
        cmap = self.canonical_map()

        def canon(term):
            return cmap.get(term, term) if isinstance(term, str) else term

        links: dict[str, set] = {}
        for url, ent in self.link_pairs():
            links.setdefault(url, set()).add((url, MENTIONS, ent))
        rows = []
        for p in self.pages:
            ts = p.all_triples() | links.get(p.url, set())
            for s, pred, o in {(canon(s), pred, canon(o)) for s, pred, o in ts}:
                rows.append((p.url, s, pred, o))
        return rows

    def syntax_counts(self) -> Counter:
        return Counter({syn: sum(len(set(p.triples.get(syn, ())))
                                 for p in self.pages)
                        for syn in ("turtle", "jsonld", "rdfa", "microdata")})

    def lookups(self, rng: random.Random, n: int) -> list[tuple]:
        """A seeded mix of bound-predicate and bound-subject pattern
        lookups -> [(s, p, expected_rows)], one bound-predicate lookup
        to two bound-subject ones. The two kinds differ in cost (one
        predicate bucket against every bucket), so an even mix would
        put the median between two clusters."""
        rows = self.canonical_rows()
        by_p = Counter(r[2] for r in rows)
        by_s = Counter(r[1] for r in rows if isinstance(r[1], str))
        preds = sorted(by_p)
        subjects = sorted(by_s)
        out = []
        for k in range(n):
            if k % 3 == 0:
                p = rng.choice(preds)
                out.append((None, p, by_p[p]))
            else:
                s = rng.choice(subjects)
                out.append((s, None, by_s[s]))
        return out

    # -- materialization ------------------------------------------------

    def write_parquet(self, path: Path, n_files: int = 4) -> int:
        """Write the page table in PAGE_SCHEMA as ``n_files`` parquet
        files; returns bytes written."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path.mkdir(parents=True, exist_ok=True)
        n = len(self.pages)
        table = pa.table({
            "url": pa.array([p.url for p in self.pages], pa.string()),
            "warc_ts": pa.array(
                [BASE_TS + dt.timedelta(seconds=i) for i in range(n)],
                pa.timestamp("us", tz="UTC")),
            "html": pa.array([p.html.encode() for p in self.pages],
                             pa.binary()),
            "text": pa.array([p.text for p in self.pages], pa.string()),
            "lang": pa.array([("en", "nl", "fr")[i % 3] for i in range(n)],
                             pa.string()),
        })
        size = 0
        step = -(-n // n_files)
        for k in range(n_files):
            f = path / f"part-{k:05d}.parquet"
            pq.write_table(table.slice(k * step, step), f)
            size += f.stat().st_size
        return size


# ---------------------------------------------------------------------
# shared pieces


def _make_aliases(rng: random.Random, n: int) -> list[tuple[str, str, float]]:
    out = []
    for k in range(n):
        code = "".join("abcdefghijklmnopqrstuvwxyz"[(k // 26 ** j) % 26]
                       for j in range(3))
        # every prior clears the pipeline's default min_link_score=0.2:
        # score = prior * (1 + log1p(tf)) >= prior
        out.append((f"kgent-{code}", f"{ENTITY}{code.upper()}",
                    round(rng.uniform(0.3, 1.0), 3)))
    return out


def _components(rng: random.Random, base: str, n_chains: int,
                n_hubs: int, n_pairs: int, chain_len: tuple[int, int],
                hub_spokes: tuple[int, int]) -> tuple[list, list]:
    """sameAs components of three shapes -> (components, edges). Node
    names carry random tokens so the canonical (lexicographic-min)
    member is not simply the first one generated."""
    comps, edges = [], []

    def nodes(c: int, k: int) -> list[str]:
        toks = rng.sample(range(10 ** 6), k)
        return [f"{base}c{c:04d}/n{t:06d}" for t in toks]

    c = 0
    for length in _spread(n_chains, *chain_len):
        ns = nodes(c, length)
        edges += [(ns[j], ns[j + 1]) for j in range(len(ns) - 1)]
        comps.append(ns)
        c += 1
    for spokes in _spread(n_hubs, *hub_spokes):
        ns = nodes(c, 1 + spokes)
        edges += [(ns[0], x) for x in ns[1:]]
        comps.append(ns)
        c += 1
    for _ in range(n_pairs):
        ns = nodes(c, 2)
        edges.append((ns[0], ns[1]))
        comps.append(ns)
        c += 1
    # owl:sameAs is symmetric: write each edge in a random direction
    edges = [(b, a) if rng.random() < 0.5 else (a, b) for a, b in edges]
    rng.shuffle(edges)
    return comps, edges


# ---------------------------------------------------------------------
# Turtle templates (Turtle 1.1). Each returns (text, triples).


def _t_item(rng, i: int, alias_words: str) -> tuple[str, list]:
    """res:item{i}: rdf:type via `a`, a language-tagged label, an
    integer, a dateTime, and an object list of two IRIs -> 6 triples."""
    s = f"{RES}item{i}"
    j, k = rng.sample(range(5000), 2)
    label = f"Item {i} {_words(rng, 4)}{alias_words}"
    rank, stamp = rng.randint(1, 99999), _stamp(rng)
    text = (f"res:item{i} a ex:Item ;\n"
            f'    ex:label "{label}"@en ;\n'
            f"    ex:rank {rank} ;\n"
            f'    ex:seen "{stamp}"^^xsd:dateTime ;\n'
            f"    ex:related res:item{j} , res:item{k} .\n")
    return text, [
        (s, RDF_TYPE, EX + "Item"),
        (s, EX + "label", _lit(label, "en")),
        (s, EX + "rank", _lit(str(rank), XSD + "integer")),
        (s, EX + "seen", _lit(stamp, XSD + "dateTime")),
        (s, EX + "related", f"{RES}item{j}"),
        (s, EX + "related", f"{RES}item{k}"),
    ]


def _t_collection(rng, i: int, bn) -> tuple[str, list]:
    """A collection of n members (n may be 0): one triple to the head
    plus rdf:first/rdf:rest per member -> 2n + 1 triples (an empty
    collection is rdf:nil)."""
    n = i % 5
    members = [f"{RES}m{i}_{k}" for k in range(n - 1)]
    tail_lit = f"member {i}"
    items = [f"res:m{i}_{k}" for k in range(n - 1)]
    if n:
        items.append(f'"{tail_lit}"')
    text = f"res:list{i} ex:members ( {' '.join(items)} ) .\n"
    s = f"{RES}list{i}"
    if not n:
        return text, [(s, EX + "members", RDF_NIL)]
    objs = members + [_lit(tail_lit, XSD + "string")]
    cells = [("b", next(bn)) for _ in range(n)]
    ts = [(s, EX + "members", cells[0])]
    for k, cell in enumerate(cells):
        ts.append((cell, RDF_FIRST, objs[k]))
        ts.append((cell, RDF_REST, cells[k + 1] if k + 1 < n else RDF_NIL))
    return text, ts


def _t_nested(rng, i: int, bn) -> tuple[str, list]:
    """Two nested anonymous blank nodes -> 5 triples."""
    d = rng.randint(1, 9)
    outer, inner = ("b", next(bn)), ("b", next(bn))
    s = f"{RES}doc{i}"
    text = (f"res:doc{i} ex:meta [ ex:depth {d} ; ex:tag \"t{i}\"@en ;\n"
            f"    ex:child [ ex:leaf \"v{i}\" ] ] .\n")
    return text, [
        (s, EX + "meta", outer),
        (outer, EX + "depth", _lit(str(d), XSD + "integer")),
        (outer, EX + "tag", _lit(f"t{i}", "en")),
        (outer, EX + "child", inner),
        (inner, EX + "leaf", _lit(f"v{i}", XSD + "string")),
    ]


def _t_statement(rng, i: int, n: int, pad: int) -> tuple[str, list]:
    """res:r{i}_{n}: a long literal, a decimal and a dateTime -> 3."""
    s = f"{RES}r{i}_{n}"
    val = f"value {n} {_words(rng, pad)}"
    w, stamp = f"{rng.randint(0, 9999)}.5", _stamp(rng)
    text = (f'res:r{i}_{n} ex:prop{n % 5} "{val}" ;\n'
            f"    ex:weight {w} ;\n"
            f'    ex:at "{stamp}"^^xsd:dateTime .\n')
    return text, [
        (s, f"{EX}prop{n % 5}", _lit(val, XSD + "string")),
        (s, EX + "weight", _lit(w, XSD + "decimal")),
        (s, EX + "at", _lit(stamp, XSD + "dateTime")),
    ]


def _t_bnode_dense(k: int, bn) -> tuple[str, list]:
    """Per group: two anonymous objects (one nested) and one link of a
    labeled blank-node chain -> 8 triples."""
    s = f"{RES}own{k}"
    a, b, c = ("b", next(bn)), ("b", next(bn)), ("b", next(bn))
    text = (f"res:own{k} ex:holds [ ex:idx {k} ; ex:child "
            f'[ ex:leaf "v{k}" ] ] , [ ex:alt {k} ] .\n'
            f"_:b{k} ex:next _:b{k + 1} ; ex:val {k} .\n")
    lab = ("b", f"label{k}")
    nxt = ("b", f"label{k + 1}")
    kl = _lit(str(k), XSD + "integer")
    return text, [
        (s, EX + "holds", a), (a, EX + "idx", kl), (a, EX + "child", b),
        (b, EX + "leaf", _lit(f"v{k}", XSD + "string")),
        (s, EX + "holds", c), (c, EX + "alt", kl),
        (lab, EX + "next", nxt), (lab, EX + "val", kl),
    ]


_BROKEN_TAILS = (
    "res:x{i} ex:p @@@ .\n",                       # not a term
    'res:x{i} ex:label "never closed .\n',         # unterminated string
    "nope:x{i} ex:p ex:o .\n",                     # undeclared prefix
)


def _turtle_doc(rng, i: int, aliases: list[str], edges: list,
                n_stmts: int, pad: int, broken: bool,
                block: str = "") -> tuple[str, list]:
    bn = itertools.count(1)  # page-scoped blank-node ids
    alias_words = "".join(f" {a}" for a in aliases)
    parts, ts = [TURTLE_PREFIXES], []
    for text, t in [_t_item(rng, i, alias_words)] + [
        _t_statement(rng, i, n, pad) for n in range(n_stmts)
    ]:
        parts.append(text)
        ts += t
    if block == "collection":
        text, t = _t_collection(rng, i, bn)
    elif block == "nested":
        text, t = _t_nested(rng, i, bn)
    else:
        text, t = "", []
    parts.append(text)
    ts += t
    for a, b in edges:
        parts.append(f"<{a}> owl:sameAs <{b}> .\n")
        ts.append((a, OWL_SAME_AS, b))
    if broken:
        parts.append(rng.choice(_BROKEN_TAILS).format(i=i))
        ts = []  # a parse failure quarantines the whole document
    return "".join(parts), ts


def _html_wrap_turtle(text: str) -> str:
    return ('<html><body><script type="text/turtle">' + text
            + "</script></body></html>")


def turtle_pages(seed: int, n_pages: int = 500, n_broken: int = 6,
                 big_stmts: int = 3000, dense_groups: int = 700) -> Corpus:
    """Standalone Turtle documents: prefixed names, collections,
    nested blank nodes, dateTime literals and lognormal page sizes,
    plus a heavy tail (one multi-MB document, one blank-node-dense
    document) and ``n_broken`` pages that fail to parse. The sameAs
    set is small, so CC takes its driver path."""
    rng = random.Random(f"turtle_pages:{seed}")
    aliases = _make_aliases(rng, 300)
    comps, edges = _components(rng, SAME, n_chains=20, n_hubs=10,
                               n_pairs=40, chain_len=(3, 25),
                               hub_spokes=(4, 20))
    normal = n_pages - 2
    broken = set(rng.sample(range(normal), n_broken))
    # lognormal page sizes (median ~10 statements), as fixed quantiles
    dist = statistics.NormalDist(2.3, 0.8)
    sizes = _schedule(rng, [min(150, int(math.exp(dist.inv_cdf((k + 0.5) / normal))))
                            for k in range(normal)])
    blocks = _schedule(rng, [("collection", "nested", "")[k % 3]
                             for k in range(normal)])
    n_alias = _schedule(rng, [k % 4 for k in range(normal)])
    healthy = [i for i in range(normal) if i not in broken]
    by_page: dict[int, list] = {}
    for e in edges:
        by_page.setdefault(rng.choice(healthy), []).append(e)
    pages = []
    for i in range(normal):
        url = f"https://turtle.example.org/doc/{i:06d}"
        al = [a for a, _, _ in rng.sample(aliases, n_alias[i])]
        text, ts = _turtle_doc(rng, i, al, by_page.get(i, []), sizes[i],
                               pad=12, broken=i in broken, block=blocks[i])
        pages.append(Page(url, text, _html_wrap_turtle(text), i in broken,
                          {"turtle": ts}, al))
    # heavy tail: one multi-MB document and one blank-node-dense one
    i = normal
    text, ts = _turtle_doc(rng, i, [], [], big_stmts, pad=40, broken=False)
    pages.append(Page(f"https://turtle.example.org/big/{i:06d}", text,
                      _html_wrap_turtle(text), False, {"turtle": ts}))
    i += 1
    bn = itertools.count(1)
    parts, ts = [TURTLE_PREFIXES], []
    for k in range(dense_groups):
        text, t = _t_bnode_dense(k, bn)
        parts.append(text)
        ts += t
    text = "".join(parts)
    pages.append(Page(f"https://turtle.example.org/bnodes/{i:06d}", text,
                      _html_wrap_turtle(text), False, {"turtle": ts}))
    return Corpus("turtle_pages", "turtle", pages, aliases, comps)


# ---------------------------------------------------------------------
# embedded-markup templates. Each returns (html, triples).


def _j_product(rng, i: int) -> tuple[str, list]:
    """JSON-LD 1.0 node with @vocab, @id, @type and a nested node
    object -> 7 triples (plain JSON strings are xsd:string, JSON
    integers xsd:integer)."""
    s = f"https://shop.example.org/id/product/{i}"
    name, price = f"Product {i} {_words(rng, 3)}", rng.randint(1, 999)
    offer = ("b", 1)
    isl = ('{"@context": {"@vocab": "http://schema.org/"}, '
           f'"@id": "{s}", "@type": "Product", "name": "{name}", '
           f'"sku": "SKU-{i}", "offers": {{"@type": "Offer", '
           f'"price": {price}, "priceCurrency": "EUR"}}}}')
    return isl, [
        (s, RDF_TYPE, SCHEMA + "Product"),
        (s, SCHEMA + "name", _lit(name, XSD + "string")),
        (s, SCHEMA + "sku", _lit(f"SKU-{i}", XSD + "string")),
        (s, SCHEMA + "offers", offer),
        (offer, RDF_TYPE, SCHEMA + "Offer"),
        (offer, SCHEMA + "price", _lit(str(price), XSD + "integer")),
        (offer, SCHEMA + "priceCurrency", _lit("EUR", XSD + "string")),
    ]


def _j_org(i: int, k: int, a: str, b: str) -> tuple[str, list]:
    """JSON-LD node whose compact IRI key owl:sameAs links to another
    node -> 3 triples."""
    name = f"Org {i}-{k}"
    isl = ('{"@context": {"@vocab": "http://schema.org/", '
           '"owl": "http://www.w3.org/2002/07/owl#"}, '
           f'"@id": "{a}", "@type": "Organization", "name": "{name}", '
           f'"owl:sameAs": {{"@id": "{b}"}}}}')
    return isl, [
        (a, RDF_TYPE, SCHEMA + "Organization"),
        (a, SCHEMA + "name", _lit(name, XSD + "string")),
        (a, OWL_SAME_AS, b),
    ]


def _rdfa_person(rng, i: int) -> tuple[str, list]:
    """RDFa Lite: @about + @typeof make the subject and its type; a
    text-content literal, an @href IRI object and a @content literal
    -> 4 triples."""
    s = f"https://shop.example.org/id/person/{i}"
    name, job = f"Person {i} {_words(rng, 2)}", f"Engineer {i}"
    html = (f'<div vocab="http://schema.org/" typeof="Person" about="{s}">'
            f'<span property="name">{name}</span> '
            f'<a property="url" href="https://people.example.org/{i}">'
            f'profile</a> <span property="jobTitle" content="{job}">'
            f"{_words(rng, 2)}</span></div>")
    return html, [
        (s, RDF_TYPE, SCHEMA + "Person"),
        (s, SCHEMA + "name", _lit(name, "en")),
        (s, SCHEMA + "url", f"https://people.example.org/{i}"),
        (s, SCHEMA + "jobTitle", _lit(job, "en")),
    ]


def _md_event(rng, i: int) -> tuple[str, list]:
    """Microdata: an item with @itemid, a text property, a <time>
    datetime property and a nested typed item -> 6 triples."""
    s = f"https://shop.example.org/id/event/{i}"
    name, day = f"Event {i} {_words(rng, 2)}", _stamp(rng)[:10]
    place, hall = ("b", 1), f"Hall {rng.randint(1, 50)}"
    html = (f'<div itemscope itemtype="http://schema.org/Event" '
            f'itemid="{s}"><span itemprop="name">{name}</span> '
            f'<time itemprop="startDate" datetime="{day}">{day}</time> '
            f'<div itemprop="location" itemscope '
            f'itemtype="http://schema.org/Place">'
            f'<span itemprop="name">{hall}</span></div></div>')
    return html, [
        (s, RDF_TYPE, SCHEMA + "Event"),
        (s, SCHEMA + "name", _lit(name, XSD + "string")),
        (s, SCHEMA + "startDate", _lit(day, XSD + "string")),
        (s, SCHEMA + "location", place),
        (place, RDF_TYPE, SCHEMA + "Place"),
        (place, SCHEMA + "name", _lit(hall, XSD + "string")),
    ]


def _paragraphs(rng, n: int, aliases: list[str]) -> str:
    paras = [_words(rng, 40 + 10 * (k % 6)).split() for k in range(n)]
    for a in aliases:
        p = rng.choice(paras)
        p.insert(rng.randrange(len(p) + 1), a)
    return "".join(f"<p>{' '.join(p)}.</p>\n" for p in paras)


def _script(payload: str) -> str:
    return f'<script type="application/ld+json">{payload}</script>\n'


def embedded_pages(seed: int, n_pages: int = 600) -> Corpus:
    """HTML pages carrying JSON-LD islands, RDFa, microdata, whole-page
    Turtle documents, or no markup at all, with long paragraph text
    for entity linking. A few JSON-LD islands are malformed JSON, so
    their page yields no JSON-LD triples. sameAs edges ride in JSON-LD
    Organization islands; the set is small, so CC takes its driver
    path."""
    rng = random.Random(f"embedded_pages:{seed}")
    aliases = _make_aliases(rng, 300)
    comps, edges = _components(rng, "https://org.example.org/id/",
                               n_chains=8, n_hubs=6, n_pairs=30,
                               chain_len=(3, 12), hub_spokes=(3, 10))
    mix = {"jsonld": 30, "rdfa": 20, "microdata": 20, "turtle": 8,
           "mixed": 5}
    kinds = [k for k, w in mix.items() for _ in range(n_pages * w // 100)]
    kinds = _schedule(rng, kinds + ["none"] * (n_pages - len(kinds)))
    n_paras = _schedule(rng, [2 + k % 15 for k in range(n_pages)])
    n_alias = _schedule(rng, [k % 4 for k in range(n_pages)])
    jsonld_pages = [i for i, k in enumerate(kinds) if k in ("jsonld", "mixed")]
    by_page: dict[int, list] = {}
    for e in edges:
        by_page.setdefault(rng.choice(jsonld_pages), []).append(e)
    # a few single-island JSON-LD pages carry malformed JSON
    plain = [i for i in jsonld_pages if kinds[i] == "jsonld" and i not in by_page]
    bad_islands = set(rng.sample(plain, len(plain) // 25))
    pages = []
    for i, kind in enumerate(kinds):
        url = f"https://shop.example.org/p/{i:06d}"
        al = [a for a, _, _ in rng.sample(aliases, n_alias[i])]
        body = _paragraphs(rng, n_paras[i], al)
        if kind == "turtle":
            # a crawled .ttl resource: the whole page text is Turtle
            text, ts = _turtle_doc(rng, i, al, [], 10, pad=8,
                                   broken=False, block="nested")
            pages.append(Page(url, text, text, False, {"turtle": ts}, al))
            continue
        head, markup, triples = "", "", {}
        if kind in ("jsonld", "mixed"):
            isl, ts = _j_product(rng, i)
            islands = [isl]
            for k, (a, b) in enumerate(by_page.get(i, [])):
                o_isl, o_ts = _j_org(i, k, a, b)
                islands.append(o_isl)
                ts = ts + o_ts
            if i in bad_islands:
                islands = [isl[:-1] + ","]  # malformed JSON: no triples
                ts = []
            head = "".join(_script(x) for x in islands)
            triples["jsonld"] = ts
        if kind in ("rdfa",):
            markup, triples["rdfa"] = _rdfa_person(rng, i)
        if kind in ("microdata", "mixed"):
            markup, triples["microdata"] = _md_event(rng, i)
        html = ('<!DOCTYPE html>\n<html lang="en"><head>'
                f"<title>Page {i}</title>\n{head}</head><body>\n"
                f"<h1>{_words(rng, 3)}</h1>\n{body}{markup}\n"
                "</body></html>\n")
        pages.append(Page(url, html, html, False, triples, al))
    return Corpus("embedded_pages", "embedded", pages, aliases, comps)


WORKLOADS = {"turtle_pages": turtle_pages, "embedded_pages": embedded_pages}
