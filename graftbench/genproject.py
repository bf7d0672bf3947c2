"""Seeded generator for the graft project the pipeline workload builds.

The project is written in the DuckDB dialect graft accepts (`count()`,
`read_parquet(...)`) and uses only integer arithmetic, so DuckDB can
compute the expected output exactly.  Besides the project files, the
generator returns what a correct build must produce, derived without graft:

* `rendered` / `rendered_after`: each model's SQL with every macro call
  expanded, before and after the rerun's input changes;
* `closure`: the models the `--changed-only` rerun has to re-execute;
* `terminals`: the tables whose contents are checked against DuckDB.

The same arguments always give byte-identical files.

    python3 genproject.py <out_dir> <seed> <data_dir> <src_dir>
"""
import json
import os
import random
import sys

MOD = 9973  # every derived value stays below this, so no sum can overflow


class Project:
    def __init__(self, name):
        self.name = name
        self.files = {}        # relative path -> text
        self.models = {}       # id -> dict(layer, parents, mat, raw, rendered)
        self.macros = {}       # name -> (a, b): body ((c * a + b) % MOD)
        self.config = {}       # id -> config lines
        self.terminals = []
        self.edits = []        # the rerun's input changes: target <- base | next
        self.closure = []
        self.rendered_after = {}

    def add(self, mid, layer, parents, mat, raw, rendered, cfg=None):
        self.models[mid] = dict(layer=layer, parents=list(parents), mat=mat,
                                raw=raw, rendered=rendered)
        lines = [] if mat == "view" else [f"materialize: {mat}"]
        self.config[mid] = lines + (cfg or [])

    def order(self):
        return sorted(self.models, key=lambda m: (self.models[m]["layer"], m))

    def descendants(self, roots):
        kids = {m: [] for m in self.models}
        for m, d in self.models.items():
            for p in d["parents"]:
                kids[p].append(m)
        seen, stack = set(roots), list(roots)
        while stack:
            for k in kids[stack.pop()]:
                if k not in seen:
                    seen.add(k)
                    stack.append(k)
        return sorted(seen)

    def config_yaml(self):
        out = ["models_dir: models", "macro_path: macros", "models:"]
        for mid in sorted(self.config):
            if self.config[mid]:
                out.append(f"  {mid}:")
                out.extend(f"    {line}" for line in self.config[mid])
        return "\n".join(out) + "\n"

    def meta(self):
        return {
            "name": self.name,
            "order": self.order(),
            "materialize": {m: d["mat"] for m, d in self.models.items()},
            "rendered": {m: d["rendered"] for m, d in self.models.items()},
            "rendered_after": self.rendered_after,
            "closure": self.closure,
            "terminals": self.terminals,
            "edits": self.edits,
        }


def macro_src(name, a, b):
    return f"{{% macro {name}(c) %}}(({{{{ c }}}} * {a} + {b}) % {MOD}){{% endmacro %}}"


def expand(name, arg, macros):
    a, b = macros[name]
    return f"(({arg} * {a} + {b}) % {MOD})"


def call(name, arg):
    return f"{{{{ {name}('{arg}') }}}}"


def combine(render, calls):
    """One macro call, or two summed and reduced again."""
    if len(calls) == 1:
        return render(*calls[0])
    return "(" + " + ".join(render(*c) for c in calls) + f") % {MOD}"


def pick_fanin(rng):
    """1-3 parents, mostly one: each extra parent doubles the view plan
    Spark inlines below a model, so the mean stays near 1.3."""
    r = rng.random()
    return 1 if r < 0.75 else 2 if r < 0.95 else 3


def pipeline(seed, data_dir, src_dir, n_models=200, view_layers=6, n_macros=50,
             n_terminals=4, edit_share=0.05):
    """Views in layers over parquet sources, plus a write side.

    The view DAG is orchestration work: render, dependency parse, DAG,
    shim, view analysis and ViewStore writes.  Terminal tables (with
    tests), an incremental merge and a snapshot are the write side.  The
    orders source is a table over `src_dir/orders.parquet`.  The rerun
    edits one macro that `edit_share` of the models call and appends a
    slice to that orders file.
    """
    rng = random.Random(f"pipeline-{seed}")
    p = Project("pipeline")
    for i in range(n_macros):
        p.macros[f"mac_{i:02d}"] = (rng.randint(2, 31), rng.randint(0, 99))
    sources = [
        (f"{data_dir}/lineitem", "l_partkey % 1000", "count()"),
        (f"{src_dir}/orders", "o_custkey % 1000", "count()"),
        (f"{data_dir}/lineitem", "l_suppkey", "CAST(sum(l_quantity) AS BIGINT)"),
        (f"{data_dir}/part", "p_partkey % 1000", "CAST(max(p_size) AS BIGINT)"),
        (f"{data_dir}/customer", "c_custkey % 1000", "CAST(max(c_nationkey) AS BIGINT)"),
    ]
    n_src = len(sources)
    n_inner = n_models - n_src - n_terminals - 3
    per_layer = [n_inner // view_layers] * view_layers
    per_layer[-1] += n_inner - sum(per_layer)
    layers, bodies = [[]], {}
    for i, (path, key, agg) in enumerate(sources):
        mid = f"w{i + 1:04d}"
        sql = (f"SELECT {key} AS k, {agg} AS v\n"
               f"FROM read_parquet('{path}.parquet')\n"
               f"GROUP BY {key}")
        p.add(mid, 0, [], "table" if path.startswith(src_dir) else "view",
              f"-- source {mid}\n{sql}\n", sql)
        layers[0].append(mid)
    orders_src = layers[0][1]
    # which inner models call the macro the rerun edits: exactly edit_share;
    # the first layer-1 model is one of them, and a terminal table reads it
    inner_ids = [f"w{n_src + i + 1:04d}" for i in range(n_inner)]
    edited = "mac_00"
    users = {inner_ids[0]} | set(rng.sample(inner_ids[1:],
                                            max(0, round(edit_share * n_models) - 1)))
    others = [m for m in p.macros if m != edited]
    ids = iter(inner_ids)
    for layer in range(1, view_layers + 1):
        layers.append([])
        for _ in range(per_layer[layer - 1]):
            mid = next(ids)
            parents = []
            for _ in range(pick_fanin(rng)):
                cand = rng.choice(layers[layer - 1])
                if cand not in parents:
                    parents.append(cand)
            m1 = edited if mid in users else rng.choice(others)
            shape = rng.random()
            if len(parents) > 1:
                union = " UNION ALL ".join(f"SELECT k, v FROM {q}" for q in parents)
                tmpl = ("SELECT k, {m} AS v\nFROM (SELECT k, sum(v) AS sv FROM ("
                        + union + ") AS u GROUP BY k) AS t")
                arg = "sv"
            elif shape < 0.35:
                tmpl = f"SELECT k, {{m}} AS v\nFROM {parents[0]}"
                arg = "v"
            elif shape < 0.7:
                tmpl = (f"SELECT k, {{m}} AS v\nFROM {parents[0]}\n"
                        f"WHERE k % 7 <> {rng.randrange(7)}")
                arg = "v"
            else:  # DuckDB-ism: count() needs the dialect shim
                tmpl = ("SELECT k, {m} AS v\nFROM (SELECT k, count() + max(v) AS cv FROM "
                        f"{parents[0]} GROUP BY k) AS t")
                arg = "cv"
            calls = [(m1, arg)]
            if rng.random() < 0.3:  # a second macro on the key
                calls.append((rng.choice(others), "k"))
            p.add(mid, layer, parents, "view",
                  f"-- layer {layer}\n" + tmpl.format(m=combine(call, calls)) + "\n",
                  tmpl.format(m=combine(lambda n, x: expand(n, x, p.macros), calls)))
            bodies[mid] = (tmpl, calls)
            layers[-1].append(mid)
    # the write side: an incremental merge over the orders table, its
    # snapshot, and small terminal tables over layer-1 models (so Spark
    # executes little, and about as much for every seed)
    agg = "SELECT k % 97 AS g, count() AS n, sum(v) AS s\nFROM {}\nGROUP BY k % 97"
    p.add("inc_orders", 1, [orders_src], "incremental", None,
          f"SELECT k, (v * 3 + 1) % {MOD} AS v\nFROM {orders_src}",
          ["unique_key: k", "tests:", "  - not_null: k", "  - unique: k"])
    p.add("snap_orders", 2, ["inc_orders"], "snapshot", None,
          "SELECT k, v, TIMESTAMP '2024-01-01 00:00:00' AS updated_at\nFROM inc_orders",
          ["strategy: timestamp", "unique_key: k", "updated_at: updated_at"])
    p.add("t_inc", 2, ["inc_orders"], "table", None, agg.format("inc_orders"),
          ["tests:", "  - not_null: g", "  - unique: g"])
    p.terminals.append("t_inc")
    chosen = [inner_ids[0]] + rng.sample(layers[1][1:], n_terminals - 1)
    for i, parent in enumerate(chosen):
        tests = ["tests:", "  - unique: g"]
        if i == 0:  # every residue mod 97 occurs among the orders keys
            tests.append("  - relationships: {column: g, to: t_inc, field: g}")
        p.add(f"t{i:02d}", 3, [parent] + (["t_inc"] if i == 0 else []), "table", None,
              agg.format(parent), tests)
        p.terminals.append(f"t{i:02d}")
    for mid, d in p.models.items():
        if d["raw"] is None:
            d["raw"] = f"-- {d['mat']} model {mid}\n{d['rendered']}\n"
        p.files[f"models/l{d['layer']}/{mid}.sql"] = d["raw"]
    p.files["macros/shared.sql"] = "\n".join(
        macro_src(n, a, b) for n, (a, b) in sorted(p.macros.items())) + "\n"
    a, b = p.macros[edited]
    p.files["rerun/shared.base.sql"] = p.files["macros/shared.sql"]
    p.files["rerun/shared.next.sql"] = p.files["macros/shared.sql"].replace(
        macro_src(edited, a, b), macro_src(edited, a, b + 1))
    p.files["config.yaml"] = p.config_yaml()
    p.closure = p.descendants(sorted(users) + [orders_src])
    after = dict(p.macros)
    after[edited] = (a, b + 1)
    for mid, d in p.models.items():
        tmpl, calls = bodies.get(mid, (None, None))
        p.rendered_after[mid] = d["rendered"] if tmpl is None else tmpl.format(
            m=combine(lambda n, x: expand(n, x, after), calls))
    p.edits = [
        {"target": "macros/shared.sql", "base": "rerun/shared.base.sql",
         "next": "rerun/shared.next.sql"},
        {"target": f"{src_dir}/orders.parquet", "base": f"{src_dir}/orders.base.parquet",
         "next": f"{src_dir}/orders.next.parquet"},
    ]
    return p


def write(p, out_dir):
    for rel, text in p.files.items():
        path = os.path.join(out_dir, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)
    with open(os.path.join(out_dir, "project.json"), "w") as f:
        json.dump(p.meta(), f, indent=1, sort_keys=True)


if __name__ == "__main__":
    write(pipeline(int(sys.argv[2]), sys.argv[3], sys.argv[4]), sys.argv[1])
