"""CI guard (SURVEY.md §7.3-4): the input_hint mandates vectorized
pandas/Arrow UDFs only — no per-row Python `udf()` anywhere in the package;
the stage-partitioning policy is read in one module, and the skew
remedies are written in one module."""

import ast
import os
import re

PKG = os.path.join(os.path.dirname(__file__), "..", "imc")


def test_no_row_udf_in_package():
    bad = []
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path) as f:
                src = f.read()
            # forbid pyspark.sql.functions.udf( / F.udf( — pandas_udf is
            # fine — and any DataFrame.rdd access: .rdd forces eager
            # physical planning + an RDD conversion inside otherwise-lazy
            # operator constructors (VERDICT r03 #5)
            pat = (r"\bF\.udf\s*\(|\bfunctions\.udf\s*\(|\.rdd\b|"
                   r"from\s+pyspark\.sql\.functions\s+import\s+(?:[\w,\s]*\b)udf\b")
            for m in re.finditer(pat, src):
                start = src.rfind("\n", 0, m.start()) + 1
                line = src[start:src.find("\n", m.start())]
                bad.append((path, line.strip()))
    assert not bad, bad


def _reads(tree):
    """(enclosing function or None, read) for every defaultParallelism
    attribute and spark.sql.shuffle.partitions literal in a module."""
    out = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, ast.Attribute) \
                and node.attr == "defaultParallelism":
            out.append((func, "defaultParallelism"))
        if isinstance(node, ast.Constant) \
                and node.value == "spark.sql.shuffle.partitions":
            out.append((func, "spark.sql.shuffle.partitions"))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return out


def test_partition_counts_read_in_one_module():
    """Stage partition counts are decided in imc/partitioning.py only.
    manifest.write_venue_stats also reads defaultParallelism: it caps the
    number of FILES the venue-stats side table is written as, an output
    layout decision, not how many tasks a stage runs."""
    allowed = {("partitioning.py", "python_stage_partitions",
                "spark.sql.shuffle.partitions"),
               ("partitioning.py", "python_stage_partitions",
                "defaultParallelism"),
               ("partitioning.py", "fan_out", "defaultParallelism"),
               ("manifest.py", "write_venue_stats", "defaultParallelism")}
    found = set()
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if fn.endswith(".py"):
                with open(os.path.join(root, fn)) as f:
                    tree = ast.parse(f.read())
                found |= {(fn, func, what) for func, what in _reads(tree)}
    assert found == allowed, found ^ allowed


def _skew_writes(tree):
    """(enclosing function, what) for every salt or shard column a module
    creates (withColumn / withColumns / withColumnRenamed / alias with a
    literal name containing "salt" or "shard") and every DataFrame
    .sample() call — the heat rule's sampler."""
    out = []

    def named(node):
        return isinstance(node, ast.Constant) and isinstance(node.value, str) \
            and ("salt" in node.value or "shard" in node.value)

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            attr, args = node.func.attr, node.args
            names = []
            if attr in ("withColumn", "alias") and args:
                names = [args[0]]
            elif attr == "withColumnRenamed" and len(args) > 1:
                names = [args[1]]
            elif attr == "withColumns" and args \
                    and isinstance(args[0], ast.Dict):
                names = args[0].keys
            out.extend((func, f"{attr}({n.value})")
                       for n in names if named(n))
            if attr == "sample":
                out.append((func, "sample"))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return out


def test_skew_remedies_written_in_one_module():
    """Salted join sides, the sampled heat rule and the sharded top-k
    window are built in imc/partitioning.py only; operators call
    hot_keys / salt / sharded_top_k."""
    allowed = {("partitioning.py", "hot_keys", "sample"),
               ("partitioning.py", "salt", "withColumn(_salt)"),
               ("partitioning.py", "sharded_top_k", "withColumn(_shard)")}
    found = set()
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if fn.endswith(".py"):
                with open(os.path.join(root, fn)) as f:
                    tree = ast.parse(f.read())
                found |= {(fn, func, what)
                          for func, what in _skew_writes(tree)}
    assert found == allowed, found ^ allowed
