"""Output checks made apart from the program, with DuckDB.

Each workload has
  * oracle SQL that recomputes the expected outputs from the same
    generated parquet the program read, compared as multisets;
  * properties the methods must have whatever the data.
Every operation's outputs are digested; operations of one kind must all
give the same digest, and the first of each kind is checked in full.
"""
import glob
import os
import shutil

import duckdb

import gen

ECOM_SYNC_TABLES = {
    "groups": ["group_id", "group_name", "shop_id", "region"],
    "products": ["product_id", "lang", "product_name", "group_id", "price",
                 "shop_id", "uid"],
    "products__quarantined": ["product_id", "product_name", "group_name_ref",
                              "price", "shop_id", "lang", "quarantine_reason"],
    "relations": ["product_id", "related_id", "qty"],
    "assortments": ["user_id", "product_id", "is_active"],
}
KEYS = {
    "groups": "group_id", "products": "product_id, lang",
    "relations": "product_id, related_id", "assortments": "user_id, product_id",
}
# The one fault the benchmark keeps as counted failures: ItemSim groups
# every null-customer row into one user, so the guest batch's neighbours
# differ from a rebuild that leaves guests out.
KNOWN_FAULT = ("item_neighbours", "guests", "rebuild")


# the checks run after the benchmark JVM has exited, so they may use
# every core
THREADS = os.cpu_count() or 2


def connect(inputs, op_dir):
    con = duckdb.connect(config={"threads": THREADS})
    for f in glob.glob(os.path.join(inputs, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (name, f))
    for d in sorted(glob.glob(os.path.join(op_dir, "*"))):
        if os.path.isdir(d):
            con.execute("CREATE VIEW out_%s AS SELECT * FROM read_parquet('%s/*.parquet')"
                        % (os.path.basename(d), d))
    return con


def digest(op_dir):
    """Order-independent digest of every output table of one operation."""
    con = duckdb.connect(config={"threads": THREADS})
    parts = []
    for d in sorted(glob.glob(os.path.join(op_dir, "*"))):
        if os.path.isdir(d):
            n, h = con.execute("SELECT count(*), sum(hash(t)::HUGEINT) FROM "
                               "read_parquet('%s/*.parquet') t" % d).fetchone()
            parts.append("%s:%d:%s" % (os.path.basename(d), n, h))
    con.close()
    return "|".join(parts)


def same_rows(con, expected_sql, actual, cols):
    """Rows of the expected query and the actual table, as multisets."""
    c = ", ".join(cols)
    # evaluated once: the expected side is a whole replay of the operation
    con.execute("CREATE OR REPLACE TEMP TABLE expected AS SELECT %s FROM (%s)"
                % (c, expected_sql))
    n = con.execute("""SELECT count(*) FROM (
        (SELECT * FROM expected EXCEPT ALL SELECT %s FROM %s)
        UNION ALL
        (SELECT %s FROM %s EXCEPT ALL SELECT * FROM expected))""" % (
        c, actual, c, actual)).fetchone()[0]
    return n == 0, "%d rows differ" % n


def zero(con, sql):
    n = con.execute(sql).fetchone()[0]
    return n == 0, "%s offending rows" % n


# ── ecom_sync ─────────────────────────────────────────────────────────

ECOM_SYNC_ORACLE = """
CREATE TEMP TABLE x_groups AS
  SELECT coalesce(i.group_id, d.group_id) AS group_id,
         coalesce(i.group_name, d.group_name) AS group_name,
         coalesce(i.shop_id, d.shop_id) AS shop_id,
         coalesce(i.region, d.region) AS region
  FROM groups d FULL OUTER JOIN in_groups i ON d.group_id = i.group_id;
CREATE TEMP TABLE x_resolved AS
  SELECT b.*, 'en' AS lang, g.group_id
  FROM in_products b LEFT JOIN x_groups g ON b.group_name_ref = g.group_name
  WHERE NOT contains(b.product_name, '#');
CREATE TEMP TABLE x_quarantined AS
  SELECT *, 'en' AS lang, 'name_ok' AS quarantine_reason FROM in_products
  WHERE contains(product_name, '#')
  UNION ALL
  SELECT product_id, product_name, group_name_ref, price, shop_id, lang,
         'unresolved:group_id' FROM x_resolved WHERE group_id IS NULL;
CREATE TEMP TABLE x_batch AS
  SELECT * EXCLUDE (rn) FROM (
    SELECT *, row_number() OVER (PARTITION BY product_id ORDER BY price) AS rn
    FROM x_resolved WHERE group_id IS NOT NULL) WHERE rn = 1;
CREATE TEMP TABLE x_upserted AS
  SELECT coalesce(b.product_id, d.product_id) AS product_id,
         coalesce(b.lang, d.lang) AS lang,
         coalesce(b.product_name, d.product_name) AS product_name,
         coalesce(b.group_id, d.group_id) AS group_id,
         coalesce(b.price, d.price) AS price,
         coalesce(b.shop_id, d.shop_id) AS shop_id, d.uid
  FROM products d FULL OUTER JOIN x_batch b
    ON d.product_id = b.product_id AND d.lang = b.lang;
CREATE TEMP TABLE x_synced AS
  SELECT * FROM x_upserted u
  WHERE u.lang NOT IN (SELECT DISTINCT lang FROM x_batch)
     OR EXISTS (SELECT 1 FROM x_batch b WHERE b.product_id = u.product_id AND b.lang = u.lang);
CREATE TEMP TABLE x_products AS
  SELECT * FROM x_synced WHERE uid IS NOT NULL
  UNION ALL
  SELECT * EXCLUDE (uid), (SELECT max(uid) FROM products)
           + row_number() OVER (ORDER BY product_id, lang) AS uid
  FROM x_synced WHERE uid IS NULL;
CREATE TEMP TABLE x_relations AS
  SELECT r.* FROM in_relations r
  WHERE r.product_id IN (SELECT product_id FROM x_products WHERE lang = 'en')
    AND r.related_id IN (SELECT product_id FROM x_products WHERE lang = 'en');
CREATE TEMP TABLE x_assortments AS
  WITH rebuilt AS (SELECT DISTINCT u.user_id, p.product_id
                   FROM users u JOIN perm p ON u.seg = p.seg)
  SELECT a.user_id, a.product_id,
         CAST(EXISTS (SELECT 1 FROM rebuilt r WHERE r.user_id = a.user_id
                      AND r.product_id = a.product_id) AS INTEGER) AS is_active
  FROM (SELECT user_id, product_id FROM assortments
        UNION SELECT user_id, product_id FROM rebuilt) a;
"""


def checks_ecom_sync(con, facts):
    con.execute(ECOM_SYNC_ORACLE)
    out = []
    for t, cols in ECOM_SYNC_TABLES.items():
        out.append(("oracle:" + t,) + same_rows(con, "SELECT * FROM x_" + t.split("__")[-1]
                                                if t != "products__quarantined"
                                                else "SELECT * FROM x_quarantined",
                                                "out_" + t, cols))
    for t, k in KEYS.items():
        out.append(("keys_unique:" + t,) + zero(
            con, "SELECT count(*) FROM (SELECT %s FROM out_%s GROUP BY ALL HAVING count(*) > 1)"
            % (k, t)))
    # inserted rows get uids max(destination uid)+1 .. max+n, in key order
    out.append(("surrogate_ids",) + zero(con, """
        WITH ins AS (SELECT p.* FROM out_products p ANTI JOIN products d
                     ON p.product_id = d.product_id AND p.lang = d.lang),
             m AS (SELECT max(uid) AS mx FROM products)
        SELECT (SELECT count(*) FROM ins WHERE uid IS NULL) +
               abs((SELECT count(*) FROM (SELECT DISTINCT uid FROM ins))
                   - (SELECT count(*) FROM ins)) +
               (SELECT count(*) FROM ins, m WHERE uid <= mx OR uid > mx + (SELECT count(*) FROM ins))"""))
    out.append(("relations_point_at_products",) + zero(con, """
        SELECT count(*) FROM out_relations r
        WHERE r.product_id NOT IN (SELECT product_id FROM out_products WHERE lang = 'en')
           OR r.related_id NOT IN (SELECT product_id FROM out_products WHERE lang = 'en')"""))
    # every feed row is quarantined, landed, or an in-batch duplicate of a
    # landed row (same product, higher price)
    q, landed, dups, feed = con.execute("""
        WITH landed AS (SELECT f.* FROM in_products f SEMI JOIN out_products p
               ON p.lang = 'en' AND p.product_id = f.product_id
              AND p.product_name = f.product_name AND p.price = f.price)
        SELECT (SELECT count(*) FROM out_products__quarantined),
               (SELECT count(*) FROM landed),
               (SELECT count(*) FROM in_products f SEMI JOIN landed l
                  ON f.product_id = l.product_id AND f.price > l.price),
               (SELECT count(*) FROM in_products)""").fetchone()
    out.append(("quarantined_plus_staged_equals_feed", q + landed + dups == feed,
                 "%d quarantined + %d landed + %d duplicates vs %d feed rows"
                 % (q, landed, dups, feed)))
    return out


# ── ecom_export ───────────────────────────────────────────────────────

def _pack(src, value):
    return ("SELECT product_id, string_agg('\"' || %s || '\"', ',' ORDER BY '\"' || %s || '\"')"
            " AS v FROM (%s) GROUP BY product_id" % (value, value, src))


def checks_ecom_export(con, facts):
    gp = ("SELECT gp.product_id, g.group_name, g.shop_id FROM group_products gp "
          "LEFT JOIN groups g ON gp.group_id = g.group_id")
    expected = {
        "catalogue": ("""SELECT p.product_id, p.lang, p.product_name, p.price, p.group_id,
                     g.group_name FROM products p LEFT JOIN groups g ON p.group_id = g.group_id
                     WHERE p.lang IN ('en', 'fr') AND p.shop_id IN ('SHOP1', 'SHOP2')""",
                      ["product_id", "lang", "product_name", "price", "group_id", "group_name"]),
        "group_lists": (_pack(gp, "group_name").replace(" AS v", " AS groups"),
                        ["product_id", "groups"]),
        "shop_lists": (_pack("SELECT DISTINCT product_id, shop_id FROM (%s)" % gp, "shop_id")
                       .replace(" AS v", " AS shops"), ["product_id", "shops"]),
        "related_lists": (_pack("SELECT product_id, CAST(related_id AS VARCHAR) AS r "
                                "FROM relations", "r").replace(" AS v", " AS related"),
                          ["product_id", "related"]),
        "primary_groups": ("""SELECT gp.product_id, gp.group_id, g.group_name
                          FROM group_products gp LEFT JOIN groups g ON gp.group_id = g.group_id
                          WHERE gp.is_primary""", ["product_id", "group_id", "group_name"]),
    }
    out = []
    for t, (sql, cols) in expected.items():
        out.append(("oracle:" + t,) + same_rows(con, sql, "out_" + t, cols))
    fields = sorted(r[0] for r in con.execute(
        "SELECT DISTINCT field_name FROM category_values").fetchall())
    actual_cols = [r[0] for r in con.execute("DESCRIBE out_fields").fetchall()]
    out.append(("pivot_columns", sorted(actual_cols) == sorted(["product_id"] + fields),
                "columns %s" % actual_cols))
    if sorted(actual_cols) == sorted(["product_id"] + fields):
        long = " UNION ALL ".join(
            "SELECT product_id, '%s' AS field_name, \"%s\" AS value FROM out_fields "
            "WHERE \"%s\" IS NOT NULL" % (f, f, f) for f in fields)
        out.append(("oracle:fields",) + same_rows(
            con, "SELECT product_id, field_name, sum(value) AS value FROM category_values "
                 "GROUP BY ALL", "(%s)" % long, ["product_id", "field_name", "value"]))
        # the sum over the wide columns equals the source sum per key
        total = " + ".join("coalesce(\"%s\", 0)" % f for f in fields)
        out.append(("pivot_row_sums",) + zero(con, """
            SELECT count(*) FROM (SELECT product_id, %s AS s FROM out_fields) w
            FULL OUTER JOIN (SELECT product_id, sum(value) AS s FROM category_values
                             GROUP BY ALL) c USING (product_id)
            WHERE w.s IS DISTINCT FROM c.s""" % total))
    # packed-list lengths equal the related-row counts
    for t, col, src in (("group_lists", "groups", "group_products"),
                        ("related_lists", "related", "relations")):
        out.append(("list_lengths:" + t,) + zero(con, """
            SELECT count(*) FROM (SELECT product_id, len(string_split(%s, ',')) AS n FROM out_%s) l
            FULL OUTER JOIN (SELECT product_id, count(*) AS n FROM %s GROUP BY ALL) c
              USING (product_id)
            WHERE l.n IS DISTINCT FROM c.n""" % (col, t, src)))
    return out


# ── corpus_curation ───────────────────────────────────────────────────

def checks_corpus(con, facts):
    budget = gen.PACK_BUDGET
    out = []
    out.append(("exact_copies_removed",) + zero(con, """
        SELECT count(*) FROM planted p SEMI JOIN out_prepared o USING (doc_id)
        WHERE p.kind = 'exact'"""))
    # Jaccard over distinct word 3-shingles, as the program's verifier
    out.append(("near_duplicates_collapsed",) + zero(con, """
        WITH sh AS (
          SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
                   i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS s
          FROM (SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\r\\f]+') AS t
                FROM documents)),
        pairs AS (
          SELECT p.doc_id AS a, p.orig_id AS b,
                 len(list_intersect(x.s, y.s)) / len(list_distinct(x.s || y.s)) AS j
          FROM planted p JOIN sh x ON x.doc_id = p.doc_id JOIN sh y ON y.doc_id = p.orig_id
          WHERE p.kind = 'near')
        SELECT count(*) FROM pairs
        WHERE j >= 0.8 AND a IN (SELECT doc_id FROM out_prepared)
                       AND b IN (SELECT doc_id FROM out_prepared)"""))
    out.append(("contaminated_removed",) + zero(con, """
        SELECT count(*) FROM planted p SEMI JOIN out_prepared o USING (doc_id)
        WHERE p.kind = 'contaminated'"""))
    counts = facts.get("stage_counts", [])
    out.append(("stage_counts_never_increase",
                len(counts) == 5 and all(a >= b for a, b in zip(counts, counts[1:]))
                and counts[0] == con.execute("SELECT count(*) FROM documents").fetchone()[0]
                and counts[3] == con.execute("SELECT count(*) FROM out_prepared").fetchone()[0],
                "stage counts %s" % counts))
    out.append(("token_counts",) + zero(con, """
        SELECT count(*) FROM out_prepared o JOIN documents d USING (doc_id)
        WHERE o.n_tokens <> len(string_split_regex(trim(d.text), '[ \\t\\n\\r\\f]+'))"""))
    # packing: each train doc starts at its source's running token offset,
    # inside its sequence's budget; a sequence overruns by at most one doc
    out.append(("packed_within_budget",) + zero(con, """
        WITH t AS (
          SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY source
                      ORDER BY doc_id * 16 + epoch ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), 0) AS before
          FROM out_prepared WHERE split = 'train')
        SELECT (SELECT count(*) FROM t WHERE seq_pos < 0 OR seq_pos >= %d
                  OR seq_id * %d + seq_pos <> before) +
               (SELECT count(*) FROM (SELECT source, seq_id, sum(n_tokens) AS n,
                  max(n_tokens) AS m FROM t GROUP BY ALL) WHERE n > %d + m) +
               (SELECT count(*) FROM out_prepared WHERE split <> 'train'
                  AND (seq_id IS NOT NULL OR seq_pos IS NOT NULL))""" % (
        budget, budget, budget)))
    return out


# ── item_neighbours ───────────────────────────────────────────────────

def checks_items(con, facts):
    cap, k = gen.ITEM_CAP, gen.ITEM_K
    # a from-scratch rebuild on the post-batch interactions; guest rows
    # (no customer) are nobody's history and take no part
    rebuild = """
      WITH post AS (
        SELECT * FROM interactions WHERE customer_id NOT IN (SELECT customer_id FROM old_a)
        UNION ALL SELECT * FROM new_a),
      capped AS (
        SELECT customer_id AS u, product_id AS i FROM (
          SELECT *, row_number() OVER (PARTITION BY customer_id
                                       ORDER BY strength DESC, product_id) AS r
          FROM post WHERE customer_id IS NOT NULL) WHERE r <= %d),
      pairs AS (
        SELECT a.i AS lo, b.i AS hi, count(*) AS n_both
        FROM capped a JOIN capped b ON a.u = b.u AND a.i < b.i GROUP BY ALL),
      items AS (SELECT i, count(*) AS n FROM capped GROUP BY ALL),
      sym AS (SELECT lo AS item, hi AS neighbor, n_both FROM pairs
              UNION ALL SELECT hi, lo, n_both FROM pairs),
      scored AS (
        SELECT s.item, s.neighbor, s.n_both,
               CAST(floor(s.n_both * 10000.0 / sqrt(CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE))
                          + 0.5) AS BIGINT) AS sim_q
        FROM sym s JOIN items a ON a.i = s.item JOIN items b ON b.i = s.neighbor)
      SELECT * FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY item
                       ORDER BY sim_q DESC, neighbor) AS INTEGER) AS rank FROM scored)
      WHERE rank <= %d""" % (cap, k)
    cols = ["item", "neighbor", "n_both", "sim_q", "rank"]
    out = [("rebuild",) + same_rows(con, rebuild, "out_neighbours", cols)]
    out.append(("at_most_k_neighbours",) + zero(con, """
        SELECT count(*) FROM (SELECT item FROM out_neighbours GROUP BY ALL
                              HAVING count(*) > %d)""" % k))
    out.append(("ranks_contiguous",) + zero(con, """
        SELECT count(*) FROM (SELECT item, count(*) AS n, count(DISTINCT rank) AS d,
                                     min(rank) AS lo, max(rank) AS hi
                              FROM out_neighbours GROUP BY ALL)
        WHERE n <> d OR lo <> 1 OR hi <> n"""))
    out.append(("sim_q_range",) + zero(con, """
        SELECT count(*) FROM out_neighbours WHERE sim_q < 0 OR sim_q > 10000
           OR sim_q IS NULL"""))
    return out


CHECKS = {
    "ecom_sync": checks_ecom_sync, "ecom_export": checks_ecom_export,
    "corpus_curation": checks_corpus, "item_neighbours": checks_items,
}


def check_op(workload, inputs, op_dir, facts):
    """[(check name, ok, detail)] for one operation's outputs."""
    con = connect(inputs, op_dir)
    try:
        return [(n, bool(ok), d) for n, ok, d in CHECKS[workload](con, facts)]
    finally:
        con.close()


def check_run(inputs, jvm):
    """Digest every operation, check the first of each (workload, kind) in
    full, and count the timed operations that failed. `inputs` maps each
    workload the run touched to its input directory."""
    problems = []
    first = {}
    failures = {}
    for op in jvm["ops"]:
        d = digest(op["dir"])
        key = (op["workload"], op["kind"])
        if key not in first:
            first[key] = d
            failures[key] = [(n, det) for n, ok, det in
                             check_op(op["workload"], inputs[op["workload"]], op["dir"], op)
                             if not ok]
        elif d != first[key]:
            problems.append("op %d (%s %s) output digest differs from the first one"
                            % (op["n"], op["workload"], op["kind"]))
    failed_kinds = set()
    for key, failed in failures.items():
        for name, det in failed:
            if key + (name,) == KNOWN_FAULT:
                failed_kinds.add(key)
            else:
                problems.append("%s %s operation: %s (%s)" % (key + (name, det)))
    timed = [op for op in jvm["ops"] if op["phase"] == "timed"]
    return {
        "correct": not problems,
        "attempted": len(timed),
        "failed": sum(1 for op in timed if (op["workload"], op["kind"]) in failed_kinds),
        "problems": problems,
        "failed_checks": {"%s/%s" % k: [n for n, _ in v] for k, v in failures.items()},
    }


# ── self-test ─────────────────────────────────────────────────────────

def _rewrite(inputs, op_dir, table, select):
    """Replace one output table of a copied operation by `select` over it
    (and the inputs)."""
    path = os.path.join(op_dir, table)
    con = connect(inputs, os.path.join(op_dir, "-"))
    con.execute("CREATE TABLE t AS SELECT * FROM read_parquet('%s/*.parquet')" % path)
    shutil.rmtree(path)
    os.makedirs(path)
    con.execute("COPY (%s) TO '%s/part-0.parquet' (FORMAT parquet)" % (select, path))
    con.close()


def _drop_one(where="true"):
    return ("SELECT * FROM t EXCEPT ALL (SELECT * FROM t WHERE %s LIMIT 1)" % where)


# (check that must fire, table, perturbation)
PERTURB = {
    "ecom_sync": [
        ("oracle:groups", "groups", _drop_one()),
        ("oracle:products", "products",
         "SELECT * REPLACE (CASE WHEN product_id = (SELECT min(product_id) FROM t) "
         "THEN price + 1 ELSE price END AS price) FROM t"),
        ("oracle:products__quarantined", "products__quarantined", _drop_one()),
        ("oracle:relations", "relations", _drop_one()),
        ("oracle:assortments", "assortments",
         "SELECT * REPLACE (CASE WHEN user_id = (SELECT min(user_id) FROM t) "
         "THEN 1 - is_active ELSE is_active END AS is_active) FROM t"),
        ("keys_unique:relations", "relations",
         "SELECT * FROM t UNION ALL (SELECT * FROM t LIMIT 1)"),
        ("surrogate_ids", "products",
         "SELECT * REPLACE (CASE WHEN uid = (SELECT max(uid) FROM t) THEN uid + 7 "
         "ELSE uid END AS uid) FROM t"),
        ("relations_point_at_products", "products",
         _drop_one("lang = 'en' AND product_id = 1")),
        ("quarantined_plus_staged_equals_feed", "products__quarantined", _drop_one()),
    ],
    "ecom_export": [
        ("oracle:catalogue", "catalogue", _drop_one()),
        ("oracle:group_lists", "group_lists",
         "SELECT * REPLACE (CASE WHEN product_id = 1 THEN groups || ',\"x\"' "
         "ELSE groups END AS groups) FROM t"),
        ("list_lengths:group_lists", "group_lists",
         "SELECT * REPLACE (CASE WHEN product_id = 1 THEN groups || ',\"x\"' "
         "ELSE groups END AS groups) FROM t"),
        ("oracle:shop_lists", "shop_lists", _drop_one()),
        ("oracle:related_lists", "related_lists", _drop_one()),
        ("list_lengths:related_lists", "related_lists", _drop_one()),
        ("oracle:primary_groups", "primary_groups", _drop_one()),
        ("pivot_row_sums", "fields",
         "SELECT * REPLACE (CASE WHEN product_id = (SELECT min(product_id) FROM t) "
         "THEN coalesce(weight, 0) + 1 ELSE weight END AS weight) FROM t"),
        ("pivot_columns", "fields", "SELECT * EXCLUDE (weight) FROM t"),
    ],
    "corpus_curation": [
        ("exact_copies_removed", "prepared",
         "SELECT * FROM t UNION ALL SELECT * REPLACE ((SELECT min(doc_id) FROM planted "
         "WHERE kind = 'exact') AS doc_id) FROM (SELECT * FROM t LIMIT 1)"),
        ("near_duplicates_collapsed", "prepared",
         "SELECT * FROM t UNION ALL SELECT x.* REPLACE (p.doc_id AS doc_id) FROM "
         "(SELECT * FROM t LIMIT 1) x, (SELECT doc_id FROM planted WHERE kind = 'near' "
         "AND orig_id IN (SELECT doc_id FROM t) ORDER BY doc_id LIMIT 1) p"),
        ("contaminated_removed", "prepared",
         "SELECT * FROM t UNION ALL SELECT * REPLACE ((SELECT min(doc_id) FROM planted "
         "WHERE kind = 'contaminated') AS doc_id) FROM (SELECT * FROM t LIMIT 1)"),
        ("stage_counts_never_increase", "prepared", _drop_one("split <> 'train'")),
        ("token_counts", "prepared",
         "SELECT * REPLACE (CASE WHEN doc_id = (SELECT min(doc_id) FROM t) "
         "THEN n_tokens + 1 ELSE n_tokens END AS n_tokens) FROM t"),
        ("packed_within_budget", "prepared",
         "SELECT * REPLACE (CASE WHEN doc_id = (SELECT max(doc_id) FROM t "
         "WHERE split = 'train') THEN seq_pos + %d ELSE seq_pos END AS seq_pos) FROM t"
         % gen.PACK_BUDGET),
    ],
    "item_neighbours": [
        ("rebuild", "neighbours",
         "SELECT * REPLACE (CASE WHEN item = 1 AND rank = 1 THEN n_both + 1 "
         "ELSE n_both END AS n_both) FROM t"),
        ("at_most_k_neighbours", "neighbours",
         "SELECT * FROM t UNION ALL SELECT * REPLACE (%d AS rank) FROM "
         "(SELECT * FROM t WHERE item = 1 AND rank = 1)" % (gen.ITEM_K + 1)),
        ("ranks_contiguous", "neighbours",
         "SELECT * REPLACE (CASE WHEN item = 1 AND rank = 2 THEN 1 ELSE rank END "
         "AS rank) FROM t"),
        ("sim_q_range", "neighbours",
         "SELECT * REPLACE (CASE WHEN item = 1 AND rank = 1 THEN 10001 ELSE sim_q END "
         "AS sim_q) FROM t"),
    ],
}


def self_test(workload, inputs, jvm, scratch):
    """Yields (description, fired) per perturbation, plus the digest and
    clean-output controls."""
    ops = {}
    for op in jvm["ops"]:
        ops.setdefault(op["kind"], op)
    op = ops[sorted(ops)[0]]
    clean = [n for n, ok, _ in check_op(workload, inputs, op["dir"], op) if not ok]
    yield ("%s: unperturbed output passes every check (failing: %s)"
           % (workload, clean or "none"), not clean)
    for name, table, select in PERTURB[workload]:
        d = os.path.join(scratch, name.replace(":", "_"))
        shutil.rmtree(d, ignore_errors=True)
        shutil.copytree(op["dir"], d)
        facts = dict(op)
        if name == "stage_counts_never_increase":
            facts["stage_counts"] = list(reversed(op["stage_counts"]))
        _rewrite(inputs, d, table, select)
        fired = [n for n, ok, _ in check_op(workload, inputs, d, facts) if not ok]
        yield ("%s: %s on a perturbed %s (fired: %s)" % (workload, name, table,
                                                        ", ".join(fired)), name in fired)
        if name == PERTURB[workload][0][0]:
            yield ("%s: output digest differs for the perturbed copy" % workload,
                   digest(d) != digest(op["dir"]))
        shutil.rmtree(d, ignore_errors=True)
