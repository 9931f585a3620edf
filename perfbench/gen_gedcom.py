"""Seeded GEDCOM generator with an expected-answer sidecar.

The file is a forest of family clusters, each a few generations deep, plus
shared SOUR/REPO/NOTE/OBJE records that people and families cite. Every
record is written as text first and then read back by a small, independent
port of the GEDCOM flattening rules (line grammar, CONC/CONT merge, tag
labels, EVEN promotion, pointer edges), so the sidecar states what a correct
importer must produce without asking the program under test.

Sidecar keys:
  node_rows        rows per node CSV (raw tag)
  node_header      CSV header per node raw tag
  edge_rows        rows per relationship CSV (raw tag)
  rel_type_rows    edges per relationship type
  vertices, edges, components
  degree_sum       sum of in+out degree over all vertices (= 2 * edges)
  unused_tags, missing_temples
  date_years       {"<TAG>|<key>": {year: rows}} for the typed-date questions
  ancestors        {xref: {"rows", "digest"}} for the start the rule picks
  hops             {xref: {"rows", "sum"}} for the landmark the rule picks

The graph questions' parameters are picked by a fixed rule, not drawn from
the seed, so every seed asks questions of the same shape: the ancestors of
the lowest-numbered person with the deepest ancestry, and the hop distances
from the farthest-reaching of the first 50 people.

Usage: python3 gen_gedcom.py <out.ged> <megabytes> <seed>
"""
import hashlib
import json
import os
import random
import re
import sys
from collections import Counter, defaultdict, deque

# Raw tag -> label, for the tags this generator writes (the GEDCOM
# vocabulary; unknown tags are reported as unused and carry no property).
TAGS = {
    "_UID": "Universally Unique ID", "ADDR": "Address", "AUTH": "Author",
    "BAPL": "LDS Baptism", "BIRT": "Birth", "BURI": "Burial",
    "CHAR": "Character", "CHIL": "Child", "CITY": "City",
    "CONC": "Concatenation", "CONT": "Continued", "CTRY": "Country",
    "DATE": "Date", "DEAT": "Death", "DIV": "Divorce", "EVEN": "Event",
    "FAM": "Family", "FAMC": "Child in Family", "FAMS": "Spouse in Family",
    "FILE": "File", "FORM": "Format", "GEDC": "Gedcom", "HEAD": "Header",
    "HUSB": "Husband", "INDI": "Individual", "LANG": "Language",
    "MARR": "Marriage", "NAME": "Name", "NOTE": "Note", "OBJE": "Object",
    "OCCU": "Occupation", "PAGE": "Page", "PHON": "Phone", "PLAC": "Place",
    "PUBL": "Publication", "QUAY": "Quality of Data", "REPO": "Repository",
    "RESI": "Residence", "SEX": "Sex", "SOUR": "Source", "SUBM": "Submitter",
    "TEMP": "Temple", "TEXT": "Text", "TITL": "Title", "TRLR": "Trailer",
    "TYPE": "Type", "VERS": "Version", "WIFE": "Wife",
}
TEMPLES = {"SLAKE": "Salt Lake City Utah", "LOGAN": "Logan Utah",
           "PROVO": "Provo Utah"}
MISSING_TEMPLES = ["QQX1", "QQX2"]  # not temple codes: reported as missing
UNUSED = "_GRP"                      # not a known tag: reported as unused

GIVENS = ["John", "Mary", "Wei", "Amara", "Olga", "Luis", "Aino", "Sven",
          "Fatima", "Kenji", "Rosa", "Tomas", "Ingrid", "Pedro", "Hana"]
SURNAMES = ["Smith", "Jones", "Garcia", "Chen", "Okafor", "Ivanov", "Berg",
            "Tanaka", "Silva", "Novak", "Haddad", "Murphy"]
PLACES = ["Springfield", "Riverton", "Portsmouth", "Oslo, Norway", "Bergen",
          "Lisbon, Portugal", "Osaka", "Cork, Ireland", "Lagos", "Tampere"]
MONTHS = ["JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JUL", "AUG", "SEP",
          "OCT", "NOV", "DEC"]
OCCUPATIONS = ["farmer", "weaver", "clerk", "miner", "teacher", "sailor",
               "smith", "baker"]
EVENT_TYPES = ["Military", "Census", "Emigration"]
WORDS = ("parish register entry transcribed from the original ledger with "
         "marginal notes about the household and neighbours").split()

def gdate(rnd, year):
    """A GEDCOM date string whose first calendar year is `year`."""
    k = rnd.random()
    if k < 0.55:
        return f"{rnd.randint(1, 28)} {rnd.choice(MONTHS)} {year}"
    if k < 0.7:
        return f"{rnd.choice(MONTHS)} {year}"
    if k < 0.8:
        return str(year)
    if k < 0.9:
        return f"ABT {year}"
    if k < 0.95:
        return f"BEF {rnd.randint(1, 28)} {rnd.choice(MONTHS)} {year}"
    return f"BET {year} AND {year + rnd.randint(1, 5)}"


def note_lines(rnd, level):
    words = [rnd.choice(WORDS) for _ in range(rnd.randint(8, 20))]
    out = [f"{level} NOTE {' '.join(words[:6])}"]
    out.append(f"{level + 1} CONC {' '.join(words[6:12])}")
    if len(words) > 12:
        out.append(f"{level + 1} CONT {' '.join(words[12:])}")
    return out


class Writer:
    def __init__(self, rnd, n_sources, n_repos, n_notes, n_objects):
        self.rnd = rnd
        self.n_sources, self.n_repos = n_sources, n_repos
        self.n_notes, self.n_objects = n_notes, n_objects

    def citation(self, level):
        r = self.rnd
        out = [f"{level} SOUR @S{r.randrange(self.n_sources)}@",
               f"{level + 1} PAGE p. {r.randint(1, 400)}"]
        if r.random() < 0.3:
            out.append(f"{level + 1} QUAY {r.randint(0, 3)}")
        return out

    def person(self, xref, sex, year, famc, fams):
        r = self.rnd
        surname = r.choice(SURNAMES)
        lines = [f"0 @{xref}@ INDI",
                 f"1 NAME {r.choice(GIVENS)} {r.choice(GIVENS)} /{surname}/",
                 f"1 SEX {sex}",
                 "1 BIRT", f"2 DATE {gdate(r, year)}",
                 f"2 PLAC {r.choice(PLACES)}"]
        if r.random() < 0.6:
            lines += self.citation(2)
        if r.random() < 0.5:
            lines += ["1 DEAT", f"2 DATE {gdate(r, year + r.randint(20, 90))}"]
            if r.random() < 0.5:
                lines.append(f"2 PLAC {r.choice(PLACES)}")
        if r.random() < 0.2:
            lines += ["1 BURI", f"2 PLAC {r.choice(PLACES)}"]
        if r.random() < 0.7:
            lines.append(f"1 OCCU {r.choice(OCCUPATIONS)}")
        if r.random() < 0.25:
            lines += ["1 RESI", f"2 ADDR {r.randint(1, 99)} Mill Lane",
                      f"3 CITY {r.choice(PLACES).split(',')[0]}"]
        if r.random() < 0.15:
            lines += ["1 EVEN", f"2 TYPE {r.choice(EVENT_TYPES)}",
                      f"2 DATE {gdate(r, year + r.randint(18, 40))}"]
        if r.random() < 0.1:
            temple = (r.choice(MISSING_TEMPLES) if r.random() < 0.1
                      else r.choice(sorted(TEMPLES)))
            lines += ["1 BAPL", f"2 TEMP {temple}"]
        if r.random() < 0.4:
            lines += note_lines(r, 1)
        if r.random() < 0.15:
            lines.append(f"1 NOTE @N{r.randrange(self.n_notes)}@")
        if r.random() < 0.1:
            lines.append(f"1 OBJE @O{r.randrange(self.n_objects)}@")
        if r.random() < 0.05:
            lines.append(f"1 {UNUSED} cluster-{r.randint(1, 9)}")
        if famc:
            lines.append(f"1 FAMC @{famc}@")
        for f in fams:
            lines.append(f"1 FAMS @{f}@")
        lines.append(f"1 _UID {r.getrandbits(64):016X}")
        return lines

    def family(self, xref, husb, wife, children, year):
        r = self.rnd
        lines = [f"0 @{xref}@ FAM", f"1 HUSB @{husb}@", f"1 WIFE @{wife}@"]
        lines += [f"1 CHIL @{c}@" for c in children]
        lines += ["1 MARR", f"2 DATE {gdate(r, year)}",
                  f"2 PLAC {r.choice(PLACES)}"]
        if r.random() < 0.3:
            lines += self.citation(2)
        if r.random() < 0.05:
            lines += ["1 DIV", f"2 DATE {gdate(r, year + r.randint(2, 20))}"]
        return lines


def write_gedcom(path, target_bytes, seed):
    """Write the GEDCOM file; returns its size in bytes."""
    rnd = random.Random(seed)
    n_sources, n_repos, n_notes, n_objects = 400, 40, 300, 200
    w = Writer(rnd, n_sources, n_repos, n_notes, n_objects)
    size = 0
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        def emit(lines):
            nonlocal size
            text = "\n".join(lines) + "\n"
            f.write(text)
            size += len(text.encode("utf-8"))

        emit(["0 HEAD", "1 SOUR perfbench", "2 VERS 1.0", "1 GEDC",
              "2 VERS 5.5.1", "2 FORM LINEAGE-LINKED", "1 CHAR UTF-8",
              "1 SUBM @U1@"])
        emit(["0 @U1@ SUBM", "1 NAME Bench Submitter",
              "1 ADDR 1 Archive Road", "2 CITY Oslo", "2 CTRY Norway",
              "1 PHON 555-0100"])
        for i in range(n_repos):
            emit([f"0 @R{i}@ REPO", f"1 NAME Regional Archive {i}",
                  f"1 ADDR {i + 1} Record Street", f"2 CITY {PLACES[i % len(PLACES)].split(',')[0]}",
                  f"2 CTRY {['Norway', 'Ireland', 'Portugal', 'Japan'][i % 4]}"])
        for i in range(n_sources):
            lines = [f"0 @S{i}@ SOUR", f"1 TITL Parish register volume {i}",
                     f"1 AUTH Clerk {rnd.choice(SURNAMES)}",
                     f"1 PUBL Diocese press, {1850 + i % 100}",
                     f"1 REPO @R{rnd.randrange(n_repos)}@"]
            if rnd.random() < 0.3:
                lines += ["1 TEXT transcribed extract",
                          f"2 CONC  continued on folio {rnd.randint(1, 90)}"]
            emit(lines)
        for i in range(n_notes):
            emit([f"0 @N{i}@ NOTE shared research note {i}",
                  "1 CONC  about a disputed lineage",
                  "1 CONT see correspondence file"])
        for i in range(n_objects):
            emit([f"0 @O{i}@ OBJE", f"1 FILE photos/img{i}.jpg",
                  "2 FORM jpeg", f"1 TITL Portrait {i}"])

        # family clusters: a founding couple, then generations of children
        # who marry people from outside the cluster
        pid = 0
        fid = 0
        while size < target_bytes:
            gens = rnd.randint(3, 6)
            base_year = rnd.randint(1700, 1850)
            couple = [f"I{pid}", f"I{pid + 1}"]
            pid += 2
            pending = [(couple, base_year, None, None)]  # (couple, year, famc_h, famc_w)
            people = []  # (xref, sex, year, famc, fams)
            fams = []
            g = 0
            while pending and g < gens:
                nxt = []
                for (h, wf), year, famc_h, famc_w in pending:
                    fam = f"F{fid}"
                    fid += 1
                    kids = []
                    for _ in range(rnd.choice([1, 2, 2, 3, 3, 4])):
                        kids.append((f"I{pid}", "M" if rnd.random() < 0.5 else "F"))
                        pid += 1
                    fams.append((fam, h, wf, [k for k, _ in kids], year + 22))
                    people.append((h, "M", year, famc_h, [fam]))
                    people.append((wf, "F", year + rnd.randint(-3, 3), famc_w, [fam]))
                    if g + 1 < gens:
                        for k, sex in kids:
                            if rnd.random() < 0.6 and len(nxt) < 6:
                                spouse = f"I{pid}"
                                pid += 1
                                pair = (k, spouse) if sex == "M" else (spouse, k)
                                famc = (fam, None) if sex == "M" else (None, fam)
                                nxt.append((pair, year + 25, famc[0], famc[1]))
                            else:
                                people.append((k, sex, year + 25, fam, []))
                    else:
                        for k, sex in kids:
                            people.append((k, sex, year + 25, fam, []))
                pending = nxt
                g += 1
            for h_w, year, famc_h, famc_w in pending:  # cut-off couples
                people.append((h_w[0], "M", year, famc_h, []))
                people.append((h_w[1], "F", year, famc_w, []))
            for xref, sex, year, famc, fs in sorted(people, key=lambda p: int(p[0][1:])):
                emit(w.person(xref, sex, year, famc, fs))
            for fam, h, wf, kids, year in fams:
                emit(w.family(fam, h, wf, kids, year))
        emit(["0 TRLR"])
    return size


# ---- independent reading of the file: what a correct importer produces ----

class Tree:
    __slots__ = ("xref", "tag", "value", "children")

    def __init__(self, xref, tag, value):
        self.xref, self.tag, self.value, self.children = xref, tag, value, []


def records(path):
    """Yield one tree per level-0 record (CONC/CONT merged into the parent).
    Lines are `LEVEL [@XREF@] TAG [VALUE]`, one space apart, as written."""
    stack = None
    with open(path, encoding="utf-8") as f:
        for raw in f:
            level, _, rest = raw.rstrip("\n").partition(" ")
            level = int(level)
            xref = None
            if rest.startswith("@"):
                xref, _, rest = rest.partition(" ")
                xref = xref.strip("@")
            tag, _, value = rest.partition(" ")
            if level == 0:
                if stack:
                    yield stack[0][1]
                stack = [(0, Tree(xref, tag, value))]
                continue
            while len(stack) > 1 and stack[-1][0] >= level:
                stack.pop()
            parent = stack[-1][1]
            if tag == "CONC":
                parent.value += value
            elif tag == "CONT":
                parent.value += "\n" + value
            else:
                node = Tree(None, tag, value)
                parent.children.append(node)
                stack.append((level, node))
    if stack:
        yield stack[0][1]


def flatten(root, edges, unused, missing):
    """Property map of one record; appends its edges and diagnostics."""
    root_id = root.xref

    def to_node(rec, include_id):
        node = {}
        if include_id and rec.xref:
            node["Gedcom Id:ID"] = rec.xref
        for child in rec.children:
            key = TAGS.get(child.tag)
            if key is None:
                unused.add(child.tag)
                continue
            if child.value != "" or not child.children:
                if child.value.startswith("@"):
                    if root_id:
                        edges.append((root_id, child.value.replace("@", ""),
                                      key, child.tag))
                elif child.tag == "TEMP":
                    if child.value not in TEMPLES:
                        missing.add(child.value)
                    node[key] = TEMPLES.get(child.value, child.value)
                elif child.tag == "NAME":
                    if "/" in child.value:
                        pieces = child.value.split("/")
                        if pieces[0].strip():
                            node["Given Name"] = pieces[0]
                        if len(pieces) > 1 and pieces[1].strip():
                            node["Surname"] = pieces[1]
                    else:
                        node["Given Name"] = child.value
                    node[key] = child.value
                else:
                    node[key] = child.value
            if child.children:
                sub = to_node(child, False)
                if key == "Event":
                    key = sub.pop("Type", "undefined")
                for ck, cv in sub.items():
                    node[f"{key} {ck}"] = cv
        return node

    node = to_node(root, True)
    if node:
        node[":LABEL"] = TAGS[root.tag]
    return node


def node_header(keys):
    first = ["Gedcom Id:ID"] if "Gedcom Id:ID" in keys else []
    return first + sorted(keys - {"Gedcom Id:ID", ":LABEL"}) + [":LABEL"]


YEAR_RE = re.compile(r"\d{3,4}")


def first_year(raw):
    m = YEAR_RE.search(raw)
    return int(m[0]) if m else None


def expected(path, seed):
    node_rows, keys = Counter(), defaultdict(set)
    edges, unused, missing = [], set(), set()
    date_years = defaultdict(Counter)
    for rec in records(path):
        if rec.tag not in TAGS:
            continue  # a skipped record: no node, no edges, no diagnostics
        props = flatten(rec, edges, unused, missing)
        if not props:
            continue
        node_rows[rec.tag] += 1
        keys[rec.tag] |= props.keys()
        for k in ("Birth Date", "Death Date", "Marriage Date"):
            if k in props:
                y = first_year(props[k])
                if y is not None:
                    date_years[f"{rec.tag}|{k}"][y] += 1
    edge_rows = Counter(e[3] for e in edges)
    rel_rows = Counter(e[2] for e in edges)
    adj = defaultdict(set)
    for s, d, _, _ in edges:
        adj[s].add(d)
        adj[d].add(s)
    parent = {v: v for v in adj}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for s, d, _, _ in edges:
        a, b = find(s), find(d)
        if a != b:
            parent[a] = b
    components = len({find(v) for v in adj})

    # child -> parents through families (CHIL x HUSB/WIFE on the family id)
    kids, heads = defaultdict(set), defaultdict(set)
    for s, d, rel, _ in edges:
        if rel == "Child":
            kids[s].add(d)
        elif rel in ("Husband", "Wife"):
            heads[s].add(d)
    parents_of = defaultdict(set)
    for fam, cs in kids.items():
        for c in cs:
            parents_of[c] |= heads.get(fam, set())

    def ancestry(s):
        gen = {s: 0}
        q = deque([s])
        while q:
            v = q.popleft()
            if gen[v] >= 20:
                continue
            for p in sorted(parents_of.get(v, ())):
                if p not in gen:
                    gen[p] = gen[v] + 1
                    q.append(p)
        return sorted((x, g) for x, g in gen.items() if g > 0)

    def reach(s):
        dist = {s: 0}
        q = deque([s])
        while q:
            v = q.popleft()
            for u in adj[v]:
                if u not in dist:
                    dist[u] = dist[v] + 1
                    q.append(u)
        return dist

    by_number = sorted(parents_of, key=lambda x: int(x[1:]))
    depth = {c: max((g for _, g in ancestry(c)), default=0) for c in by_number}
    start = max(by_number, key=lambda c: (depth[c], -int(c[1:])))
    rows = ancestry(start)
    ancestors = {start: {"rows": len(rows), "digest": digest_rows(rows)}}

    people = sorted((v for v in adj if v.startswith("I")), key=lambda x: int(x[1:]))
    reaches = {p: reach(p) for p in people[:50]}
    landmark = max(reaches, key=lambda p: (max(reaches[p].values()), -int(p[1:])))
    dist = reaches[landmark]
    hops = {landmark: {"rows": len(dist), "sum": sum(dist.values())}}

    return {
        "seed": seed,
        "bytes": os.path.getsize(path),
        "node_rows": dict(sorted(node_rows.items())),
        "node_header": {t: node_header(k) for t, k in sorted(keys.items())},
        "edge_rows": dict(sorted(edge_rows.items())),
        "rel_type_rows": dict(sorted(rel_rows.items())),
        "vertices": len(adj),
        "edges": len(edges),
        "degree_sum": 2 * len(edges),
        "components": components,
        "unused_tags": sorted(unused),
        "missing_temples": sorted(missing),
        "date_years": {k: {str(y): n for y, n in sorted(c.items())}
                       for k, c in sorted(date_years.items())},
        "ancestors": ancestors,
        "hops": hops,
    }


def digest_rows(rows):
    """Order-free digest of (xref, number) rows, same as the harness's."""
    h = hashlib.sha256()
    for x, n in sorted(rows):
        h.update(f"{x}\t{n}\n".encode())
    return h.hexdigest()[:16]


def generate(path, megabytes, seed):
    """Write `path` and `path + '.expect.json'` unless both exist; returns
    the sidecar."""
    side = path + ".expect.json"
    if not (os.path.exists(path) and os.path.exists(side)):
        tmp = path + ".tmp"
        write_gedcom(tmp, int(megabytes * 1e6), seed)
        exp = expected(tmp, seed)
        with open(side + ".tmp", "w") as f:
            json.dump(exp, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
        os.replace(side + ".tmp", side)
    with open(side) as f:
        return json.load(f)


if __name__ == "__main__":
    out, mb, sd = sys.argv[1], float(sys.argv[2]), int(sys.argv[3])
    e = generate(out, mb, sd)
    print(json.dumps({k: e[k] for k in ("bytes", "vertices", "edges", "components")}))
