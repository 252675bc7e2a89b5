"""Seeded synthetic Scala source trees and an independent answer model.

The generator writes a tree of `object` modules whose functions call each
other. It keeps its own model of every unit (objects, functions, constants,
imports) and every call, so the expected answers to `find`, `show`, `trace`
and `status` are computed here from that model, never by asking the engine.

Resolution follows graft's documented rules (SemanticResolver): a raw edge
target is a *name*, resolved first among units in the caller's container,
then globally; ties go to the lexicographically smallest unit id; edges to
oneself and unresolved targets are dropped. The generator keeps function
names globally unique, so call edges resolve to exactly one function.
"""

import hashlib
import os
import random

HEX = "0123456789abcdef"
CALLS_PER_FN = 3


def block_id(workspace, unit_id):
    """md5(workspace \\0 unit_id), graft's block id."""
    return hashlib.md5((workspace + "\x00" + unit_id).encode("utf-8")).hexdigest()


class Fn:
    __slots__ = ("name", "calls")

    def __init__(self, name, calls):
        self.name = name
        self.calls = list(calls)


class Module:
    __slots__ = ("index", "path", "pkg", "name", "imports", "consts", "fns")

    def __init__(self, index, width):
        self.index = index
        self.pkg = "p%02d" % (index // 10)
        self.name = "Mod%0*d" % (width, index)
        self.path = "src/gen/%s/%s.scala" % (self.pkg, self.name)
        self.imports = []   # module indices, all lower than `index`
        self.consts = []
        self.fns = []


class Tree:
    """A seeded tree: `files` modules with about `fns_per_file` functions."""

    def __init__(self, seed, files, fns_per_file):
        """`fns_per_file` is the mean; every file gets at least 2."""
        self.rng = random.Random(seed)
        self.width = max(4, len(str(files)))
        self.used = set()
        self.modules = [Module(i, self.width) for i in range(files)]
        for m in self.modules:
            n = max(2, int(self.rng.gauss(fns_per_file, fns_per_file / 4)))
            m.fns = [Fn(self.fresh_name(), []) for _ in range(n)]
            m.consts = ["LIMIT_%s_%d" % (m.name.lower(), k)
                        for k in range(self.rng.randint(0, 2))]
            if m.index > 0:
                k = self.rng.randint(0, min(3, m.index))
                m.imports = sorted(self.rng.sample(range(m.index), k))
        for m in self.modules:
            for f in m.fns:
                f.calls = self.draw_calls(m, exclude=f.name)
        # Every function is called by at least one other and draws one to
        # three calls, so a traversal's cost follows its depth rather than
        # whether the drawn name happens to be a leaf.
        called = {c for m in self.modules for f in m.fns for c in f.calls}
        for m in self.modules:
            for f in m.fns:
                if f.name not in called:
                    caller = self.rng.choice([g for g in m.fns if g is not f])
                    caller.calls.append(f.name)

    def fresh_name(self):
        while True:
            name = "f" + "".join(self.rng.choice(HEX) for _ in range(7))
            if name not in self.used:
                self.used.add(name)
                return name

    def all_fn_names(self):
        return [f.name for m in self.modules for f in m.fns]

    def draw_calls(self, module, exclude):
        """Mostly local calls, some into imported or arbitrary modules."""
        out = []
        for _ in range(self.rng.randint(1, CALLS_PER_FN)):
            r = self.rng.random()
            if r < 0.6:
                src = module
            elif r < 0.85 and module.imports:
                src = self.modules[self.rng.choice(module.imports)]
            else:
                src = self.rng.choice(self.modules)
            if not src.fns:
                continue
            name = self.rng.choice(src.fns).name
            if name != exclude and name not in out:
                out.append(name)
        return out

    # ---- rendering ----

    def render(self, m):
        """File text for module `m`, plus (unit_id, type, name, container,
        line_start, line_end) for every unit the Scala extractor yields."""
        lines = ["package gen.%s" % m.pkg, ""]
        units = []
        for i in m.imports:
            dep = self.modules[i]
            lines.append("import gen.%s.%s" % (dep.pkg, dep.name))
            n = len(lines)
            units.append(("%s:import:%s" % (m.path, dep.name), "import",
                          dep.name, "", n, n))
        if m.imports:
            lines.append("")
        lines.append("object %s {" % m.name)
        obj_start = len(lines)
        for k, c in enumerate(m.consts):
            lines.append("  val %s = %d" % (c, k + 1))
            n = len(lines)
            units.append(("%s:%s:%s" % (m.path, m.name, c), "const", c,
                          m.name, n, n))
        for f in m.fns:
            lines.append("")
            lines.append("  def %s(x: Int): Int = {" % f.name)
            start = len(lines)
            lines.append("    val y = x + %d" % (len(f.calls) + 1))
            if f.calls:
                lines.append("    " + " + ".join("%s(y)" % c for c in f.calls))
            else:
                lines.append("    y")
            lines.append("  }")
            units.append(("%s:%s:%s" % (m.path, m.name, f.name), "function",
                          f.name, m.name, start, len(lines)))
        lines.append("}")
        units.append(("%s:%s" % (m.path, m.name), "type", m.name, "",
                      obj_start, len(lines)))
        return "\n".join(lines) + "\n", units

    def write(self, root):
        total = 0
        for m in self.modules:
            total += self.write_module(root, m)
        return total

    def write_module(self, root, m):
        text, _ = self.render(m)
        path = os.path.join(root, m.path)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        data = text.encode("utf-8")
        with open(path, "wb") as fh:
            fh.write(data)
        return len(data)

    # ---- seeded edits (serve_edit) ----

    def edit(self):
        """Apply one seeded edit to the model. Returns (module, kind, name):
        kind is `body` (a function's calls change), `add` (a new function)
        or `remove` (a function disappears)."""
        m = self.rng.choice(self.modules)
        r = self.rng.random()
        if r < 0.4 or len(m.fns) < 3:
            f = Fn(self.fresh_name(), [])
            f.calls = self.draw_calls(m, exclude=f.name)
            m.fns.append(f)
            return m, "add", f.name
        if r < 0.8:
            f = self.rng.choice(m.fns)
            before = list(f.calls)
            while f.calls == before:
                f.calls = self.draw_calls(m, exclude=f.name)
            return m, "body", f.name
        f = self.rng.choice(m.fns)
        m.fns.remove(f)
        return m, "remove", f.name

    # ---- the answer model ----

    def model(self, workspace):
        return Model(self, workspace)


class Model:
    """Units, resolved edges and the expected query answers."""

    def __init__(self, tree, workspace):
        self.units = {}        # unit_id -> (type, name, container, path, l0, l1)
        raw = []               # (src unit_id, src container, edge_type, target name)
        for m in tree.modules:
            _, units = tree.render(m)
            for uid, typ, name, cont, l0, l1 in units:
                self.units[uid] = (typ, name, cont, m.path, l0, l1)
            for i in m.imports:
                dep = tree.modules[i]
                raw.append(("%s:import:%s" % (m.path, dep.name), "",
                            "imports", dep.name))
            for f in m.fns:
                uid = "%s:%s:%s" % (m.path, m.name, f.name)
                raw.append((uid, m.name, "method_of", m.name))
                for c in f.calls:
                    raw.append((uid, m.name, "calls", c))
        self.edges = self.resolve(raw)
        self.id_of = {u: block_id(workspace, u) for u in self.units}
        self.uid_of = {v: k for k, v in self.id_of.items()}
        self.out_adj, self.in_adj = {}, {}
        for s, d, t in self.edges:
            self.out_adj.setdefault(self.id_of[s], []).append((self.id_of[d], t))
            self.in_adj.setdefault(self.id_of[d], []).append((self.id_of[s], t))

    def resolve(self, raw):
        scoped, glob, tscoped, tglob = {}, {}, {}, {}
        for uid, (typ, name, cont, _, _, _) in self.units.items():
            for table, key in ((scoped, (name, cont)), (glob, name)):
                if key not in table or uid < table[key]:
                    table[key] = uid
            if typ == "type":
                for table, key in ((tscoped, (name, cont)), (tglob, name)):
                    if key not in table or uid < table[key]:
                        table[key] = uid
        out = set()
        for src, cont, typ, target in raw:
            if typ == "method_of":
                dst = tscoped.get((target, cont)) or tglob.get(target)
            else:
                dst = scoped.get((target, cont)) or glob.get(target)
            if dst is not None and dst != src:
                out.add((src, dst, typ))
        return sorted(out)

    def seeds(self, target):
        return sorted({self.id_of[u] for u in self.units
                       if u.rsplit(":", 1)[-1] == target or self.id_of[u] == target})

    def bfs(self, target, direction, depth, only=None, paths=False):
        """[(id, depth, path)] at minimum depth, ordered (depth, id), capped
        at 1000; `path` is the lexicographically smallest shortest path."""
        adj = self.out_adj if direction == "out" else self.in_adj
        best = {s: [s] for s in self.seeds(target)}
        level = {s: 0 for s in best}
        frontier = sorted(best)
        d = 0
        while frontier and d < depth and len(level) < 1000:
            d += 1
            nxt = {}
            for u in frontier:
                for v, t in adj.get(u, ()):
                    if (only and t != only) or v in level:
                        continue
                    p = best[u] + [v]
                    if v not in nxt or p < nxt[v]:
                        nxt[v] = p
            for v, p in nxt.items():
                level[v] = d
                best[v] = p
            frontier = sorted(nxt)
        rows = sorted((lv, v) for v, lv in level.items())[:1000]
        return [(v, lv, best[v] if paths else None) for lv, v in rows]

    def show(self, relation, target, depth):
        direction, only = {
            "callers": ("in", None), "callees": ("out", None),
            "imports": ("out", "imports"),
        }[relation]
        return [(v, lv) for v, lv, _ in self.bfs(target, direction, depth, only)]

    def trace(self, direction, target, depth):
        return self.bfs(target, "in" if direction == "callers" else "out",
                        depth, paths=True)

    def find(self, unit_type, name, k=10):
        """[(id, unit_id, source_uri)] ordered by id, capped at k."""
        rows = []
        for uid, (typ, _, _, path, l0, l1) in self.units.items():
            if typ == unit_type and uid.rsplit(":", 1)[-1] == name:
                rows.append((self.id_of[uid], uid,
                             "file://%s#L%d-L%d" % (path, l0, l1)))
        return sorted(rows)[:k]

    def status(self):
        return len(self.units), len(self.edges)
