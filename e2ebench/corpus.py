"""Seeded synthetic Python repository with planted facts.

The generator keeps a structural model of every file (its class, methods,
functions and the names each one calls) and renders the source text from
it, so every answer the engine gives can be checked against the model:

* each class name is a unique identifier whose defining chunk a search
  for that name must return, and each function name one whose one-hop
  knowledge-graph neighbourhood is known;
* call chains (entry -> ... -> last link) give `trace_execution_flow` a
  known depth and path;
* classes inherit from earlier classes, planting hierarchies;
* the knowledge-graph label and relationship counts, the chunk count per
  file and each function's one-hop neighbour set follow from the model.

Only the rendered files reach the program; the plan (queries, edit
batches and expected answers) goes to the harness.
"""

import random

N_FILES = 64
N_PACKAGES = 6
FUNCS_PER_FILE = 3
METHODS_PER_CLASS = 2
N_CHAINS = 4
CHAIN_DEPTH = 5          # calls from a chain's entry to its last link
MAX_NEIGHBOURS = 20      # kg_query answers stay under the tool's limit of 25
N_ROUNDS = 40            # serve rounds planned; a run uses a prefix
N_INDEX_BATCHES = 20     # index edit batches planned
N_EDIT_CYCLES = 20       # edit_search cycles planned
ZIPF_S = 1.1

VERBS = ["load", "parse", "scan", "merge", "emit", "fetch", "store", "build",
         "check", "route", "render", "split", "flush", "index", "score",
         "encode", "decode", "filter", "resolve", "collect"]
NOUNS = ["Record", "Parser", "Buffer", "Cache", "Reader", "Writer", "Router",
         "Planner", "Loader", "Scanner", "Index", "Table"]
WORDS = ["value", "batch", "token", "stream", "layer", "column", "offset",
         "header", "window", "segment", "cursor", "payload", "schema",
         "frame", "block", "entry", "field", "range", "queue", "shard"]
CONS = "bdfgklmnprstvz"
VOWELS = "aeiou"


class Names:
    """Unique three-syllable pseudo-words: rare corpus tokens."""

    def __init__(self, rng):
        self.rng = rng
        self.used = set()

    def word(self):
        while True:
            w = "".join(self.rng.choice(CONS) + self.rng.choice(VOWELS)
                        for _ in range(3))
            if w not in self.used:
                self.used.add(w)
                return w


def render(spec):
    """Source text of one file model."""
    out = ['"""%s module: %s helpers."""' % (spec["stem"].capitalize(),
                                             " ".join(spec["doc"])),
           "import os"]
    for mod, name in spec["imports"]:
        out.append("from %s import %s" % (mod, name))
    out += ["", "LIMIT_%s = %d" % (spec["stem"].upper(), spec["const"]), "", ""]
    cls = spec["cls"]
    head = "class %s(%s):" % (cls["name"], cls["base"]) if cls["base"] \
        else "class %s:" % cls["name"]
    out += [head, '    """%s holder for the %s layer."""' % (
        cls["noun"], " ".join(spec["doc"][:2]))]
    for m in cls["methods"]:
        out += ["", "    def %s(self, value):" % m["name"],
                '        """Apply the %s step."""' % spec["doc"][2]]
        for c in m["calls"]:
            out.append("        value = %s(value)" % c)
        out.append("        return value")
    for f in spec["funcs"]:
        out += ["", "", "def %s(items, limit):" % f["name"],
                '    """%s the %s values."""' % (
                    f["name"].split("_")[0].capitalize(), spec["doc"][1]),
                "    total = 0",
                "    for item in items:",
                "        if item > limit:"]
        if f["calls"]:
            out += ["            total += %s(item)" % c for c in f["calls"]]
        else:
            out.append("            total += item")
        out.append("    return total + LIMIT_%s" % spec["stem"].upper())
    for c in spec["extra"]:
        m = c["methods"][0]
        out += ["", "", "class %s:" % c["name"],
                '    """Fresh holder for the %s layer."""' % spec["doc"][0],
                "", "    def %s(self, value):" % m["name"],
                '        """Apply the %s step."""' % spec["doc"][2],
                "        value = %s(value)" % m["calls"][0],
                "        return value"]
    return "\n".join(out) + "\n"


def chunk_count(spec):
    """Chunks the chunker makes: module header, classes, methods, functions."""
    return 2 + len(spec["cls"]["methods"]) + len(spec["funcs"]) + \
        sum(1 + len(c["methods"]) for c in spec["extra"])


class Repo:
    """The structural model of the generated repository."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.names = Names(self.rng)
        self.files = {}          # rel path -> spec
        self.module_of = {}      # top-level function name -> module string
        self.next_mod = 0
        self.chains = []
        self._build()

    # -- construction --------------------------------------------------

    def _new_path(self):
        pkg = self.rng.randrange(N_PACKAGES)
        path = "pkg%02d/mod_%03d.py" % (pkg, self.next_mod)
        self.next_mod += 1
        return path

    def func_names(self):
        return [f["name"] for s in self.files.values() for f in s["funcs"]]

    def class_names(self):
        return [s["cls"]["name"] for s in self.files.values()]

    def _new_spec(self, path, n_funcs=FUNCS_PER_FILE):
        stem = self.names.word()
        rng = self.rng
        verbs = rng.sample(VERBS, n_funcs + METHODS_PER_CLASS)
        classes = self.class_names()
        cls = {"name": rng.choice(NOUNS) + self.names.word().capitalize(),
               "noun": rng.choice(NOUNS),
               "base": rng.choice(classes) if classes and rng.random() < 0.6
               else "",
               "methods": [{"name": "%s_%s" % (v, self.names.word()),
                            "calls": []}
                           for v in verbs[n_funcs:]]}
        funcs = [{"name": "%s_%s" % (v, self.names.word()), "calls": []}
                 for v in verbs[:n_funcs]]
        return {"path": path, "stem": stem, "const": rng.randrange(2, 97),
                "doc": rng.sample(WORDS, 3), "cls": cls, "funcs": funcs,
                "extra": [], "imports": []}

    def _add(self, spec):
        self.files[spec["path"]] = spec
        mod = spec["path"][:-3].replace("/", ".")
        for f in spec["funcs"]:
            self.module_of[f["name"]] = mod

    def _link(self, spec, chain_names=()):
        """Give each non-chain function 0-2 callees and each method one,
        drawn from functions of other files outside every chain."""
        own = {f["name"] for f in spec["funcs"]}
        pool = [n for n in self.func_names()
                if n not in own and n not in chain_names]
        if not pool:
            return
        for f in spec["funcs"]:
            if f["name"] not in chain_names:
                f["calls"] = self.rng.sample(pool, self.rng.choice([0, 1, 1, 2]))
        for m in spec["cls"]["methods"]:
            m["calls"] = [self.rng.choice(pool)]
        self._set_imports(spec)

    def _set_imports(self, spec):
        called = [c for f in spec["funcs"] for c in f["calls"]] + \
                 [c for k in [spec["cls"]] + spec["extra"]
                  for m in k["methods"] for c in m["calls"]]
        imports = []
        for c in called:
            pair = (self.module_of[c], c)
            if pair not in imports:
                imports.append(pair)
        spec["imports"] = imports

    def _build(self):
        for _ in range(N_FILES):
            self._add(self._new_spec(self._new_path()))
        paths = sorted(self.files)
        # chains: link k of chain c is the first function of a distinct file
        order = self.rng.sample(paths, N_CHAINS * (CHAIN_DEPTH + 1))
        chain_names = set()
        for c in range(N_CHAINS):
            links = [self.files[p]["funcs"][0]["name"]
                     for p in order[c * (CHAIN_DEPTH + 1):(c + 1) * (CHAIN_DEPTH + 1)]]
            self.chains.append(links)
            chain_names.update(links)
        for p in paths:
            self._link(self.files[p], chain_names)
        for links in self.chains:
            for a, b in zip(links, links[1:]):
                self._func(a)["calls"] = [b]
        for p in paths:
            self._set_imports(self.files[p])
        self.chain_names = chain_names

    def _func(self, name):
        for s in self.files.values():
            for f in s["funcs"]:
                if f["name"] == name:
                    return f
        raise KeyError(name)

    def file_of(self, name):
        for s in self.files.values():
            if any(f["name"] == name for f in s["funcs"]) or \
                    s["cls"]["name"] == name:
                return s["path"]
        raise KeyError(name)

    # -- derived facts -------------------------------------------------

    def texts(self):
        return {p: render(s) for p, s in sorted(self.files.items())}

    def chunk_counts(self):
        return {p: chunk_count(s) for p, s in sorted(self.files.items())}

    def entities(self):
        """(id, name, label, calls) for every class, method and function."""
        out = []
        for p, s in sorted(self.files.items()):
            for cls in [s["cls"]] + s["extra"]:
                class_calls = []
                for m in cls["methods"]:
                    for c in m["calls"]:
                        if c not in class_calls:
                            class_calls.append(c)
                out.append(("%s::%s" % (p, cls["name"]), cls["name"], "class",
                            class_calls))
                for m in cls["methods"]:
                    out.append(("%s::%s.%s" % (p, cls["name"], m["name"]),
                                m["name"], "method", m["calls"]))
            for f in s["funcs"]:
                out.append(("%s::%s" % (p, f["name"]), f["name"], "function",
                            f["calls"]))
        return out

    def graph(self):
        """Vertices {id: label} and the edge set {(src, dst, rel)} that a
        full knowledge-graph build of the current files yields."""
        ents = self.entities()
        by_name = {}
        for eid, name, _, _ in ents:
            by_name.setdefault(name, []).append(eid)
        vertices = {eid: label for eid, _, label, _ in ents}
        edges = set()
        for p, s in self.files.items():
            vertices[p] = "file"
            cid = "%s::%s" % (p, s["cls"]["name"])
            for k in [s["cls"]] + s["extra"]:
                kid = "%s::%s" % (p, k["name"])
                edges.add((p, kid, "CONTAINS"))
                for m in k["methods"]:
                    edges.add((kid, "%s.%s" % (kid, m["name"]), "CONTAINS"))
            for f in s["funcs"]:
                edges.add((p, "%s::%s" % (p, f["name"]), "CONTAINS"))
            mods = ["os"] + [m for m, _ in s["imports"]]
            for m in mods:
                vertices.setdefault(m, "module")
                edges.add((p, m, "IMPORTS"))
            if s["cls"]["base"]:
                for dst in by_name.get(s["cls"]["base"], []):
                    if dst != cid:
                        edges.add((cid, dst, "INHERITS"))
        for eid, _, _, calls in ents:
            for c in calls:
                for dst in by_name.get(c, []):
                    if dst != eid:
                        edges.add((eid, dst, "CALLS"))
        return vertices, edges

    def kg_counts(self):
        vertices, edges = self.graph()
        counts = {}
        for label in vertices.values():
            counts["node:" + label] = counts.get("node:" + label, 0) + 1
        for _, _, rel in edges:
            counts["relationship:" + rel] = counts.get("relationship:" + rel, 0) + 1
        return dict(sorted(counts.items()))

    def neighbours(self, graph, name):
        """One-hop neighbours of a top-level function or class."""
        _, edges = graph
        fid = "%s::%s" % (self.file_of(name), name)
        out = {d for s, d, _ in edges if s == fid} | \
              {s for s, d, _ in edges if d == fid}
        return sorted(out)

    # -- edits ---------------------------------------------------------

    def create_file(self):
        spec = self._new_spec(self._new_path())
        self._add(spec)
        self._link(spec, self.chain_names)
        return spec["path"]

    def modify_file(self, path):
        """Add one function and re-draw the callees of the first one."""
        s = self.files[path]
        f = {"name": "%s_%s" % (self.rng.choice(VERBS), self.names.word()),
             "calls": []}
        s["funcs"].append(f)
        self.module_of[f["name"]] = self.module_of[s["funcs"][0]["name"]]
        pool = [n for n in self.func_names()
                if n not in {g["name"] for g in s["funcs"]}]
        f["calls"] = self.rng.sample(pool, 1)
        if s["funcs"][0]["name"] not in self.chain_names:
            s["funcs"][0]["calls"] = self.rng.sample(pool, 1)
        self._set_imports(s)

    def fresh_class_name(self):
        return "Fresh" + self.names.word().capitalize()

    def append_class(self, path, name, callee):
        """Add class `name`, whose one method calls `callee`, at the end
        of the file; returns the method's name."""
        s = self.files[path]
        c = {"name": name,
             "methods": [{"name": "%s_%s" % (self.rng.choice(VERBS),
                                             self.names.word()),
                          "calls": [callee]}]}
        s["extra"].append(c)
        self._set_imports(s)
        return c["methods"][0]["name"]

    def delete_file(self, path):
        del self.files[path]

    def move_file(self, path):
        new = self._new_path()
        spec = self.files.pop(path)
        spec["path"] = new
        self.files[new] = spec
        return new


def zipf_picker(rng, items):
    """Draw from `items` with Zipf(ZIPF_S) weights over a seeded order."""
    order = list(items)
    rng.shuffle(order)
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(order))]
    return lambda: rng.choices(order, weights)[0]


def index_batch(repo, rng):
    """One edit batch: create, modify, delete and move one file each."""
    before = repo.chunk_counts()
    victims = rng.sample(sorted(repo.files), 3)
    created = repo.create_file()
    repo.modify_file(victims[0])
    repo.delete_file(victims[1])
    moved = repo.move_file(victims[2])
    texts = repo.texts()
    after = repo.chunk_counts()
    return {"write": {p: texts[p] for p in (created, victims[0])},
            "delete": [victims[1]],
            "move": [[victims[2], moved]],
            "chunk_counts": after,
            "kg_counts": repo.kg_counts(),
            # chunk rows inserted or deleted, a moved file's rows once
            "rows_changed": after[created] + before[victims[0]] +
            after[victims[0]] + before[victims[1]] + after[moved]}


def queries(repo, rng):
    """Zipf-drawn checked tool calls over the current repository."""
    graph = repo.graph()
    targets = [n for n in sorted(repo.func_names())
               if len(repo.neighbours(graph, n)) <= MAX_NEIGHBOURS]
    pick_search = zipf_picker(rng, sorted(repo.class_names()))
    pick_kg = zipf_picker(rng, targets)

    def one(r):
        q1, q2, q3 = pick_search(), pick_search(), pick_kg()
        chain = repo.chains[r % N_CHAINS]
        return {
            "search_code": {"query": q1, "file": repo.file_of(q1)},
            "search_hybrid": {"query": q2, "file": repo.file_of(q2)},
            "kg_query": {"name": q3, "neighbours": repo.neighbours(graph, q3)},
            "trace_execution_flow": {
                "entry": "%s::%s" % (repo.file_of(chain[0]), chain[0]),
                "path": ["%s::%s" % (repo.file_of(n), n) for n in chain]}}
    return one


def plan(seed, workload):
    """Generated files plus the harness plan for one workload and seed."""
    repo = Repo(seed)
    files = repo.texts()
    rng = random.Random(seed * 7919 + 17)
    doc = {"workload": workload, "seed": seed,
           "chunk_counts": repo.chunk_counts(),
           "kg_counts": repo.kg_counts()}
    # per-layer probes run on a copy of the initial files
    first = queries(repo, rng)(0)
    probe_repo = Repo(seed)
    doc["probe"] = {"search": first["search_code"], "kg": first["kg_query"],
                    "trace": first["trace_execution_flow"],
                    "batch_a": index_batch(probe_repo, rng),
                    "batch_b": index_batch(probe_repo, rng)}
    if workload == "serve":
        one = queries(repo, rng)
        doc["rounds"] = [one(r) for r in range(N_ROUNDS)]
    elif workload == "index":
        doc["batches"] = [index_batch(repo, rng) for _ in range(N_INDEX_BATCHES)]
    elif workload == "edit_search":
        cycles = []
        for _ in range(N_EDIT_CYCLES):
            paths = sorted(repo.files)
            edited = sorted(rng.sample(paths, 2))
            # one fresh class name defined in both files: one search and
            # one kg_query then check every file of the batch
            name = repo.fresh_class_name()
            neighbours = set()
            for p in edited:
                others = [n for q, s in repo.files.items() if q != p
                          for n in [f["name"] for f in s["funcs"]]]
                callee = rng.choice(sorted(others))
                method = repo.append_class(p, name, callee)
                neighbours |= {p, "%s::%s.%s" % (p, name, method),
                               "%s::%s" % (repo.file_of(callee), callee)}
            texts = repo.texts()
            cycles.append({"write": {p: texts[p] for p in edited},
                           "delete": [], "move": [],
                           "fresh": {"name": name, "files": edited,
                                     "neighbours": sorted(neighbours)},
                           "chunk_counts": repo.chunk_counts()})
        doc["cycles"] = cycles
    else:
        raise ValueError("unknown workload: %s" % workload)
    return files, doc
