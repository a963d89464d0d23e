"""Row-level security and FK enforcement analogs.

References: src/test/regress/sql/rowsecurity.sql (CREATE POLICY ... USING
(qual): every scan of the table by a non-owner role composes the
policy qual into the plan — rewriteHandler.c/rowsecurity.c) and
src/test/regress/sql/foreign_key.sql (INSERT/UPDATE referencing rows
must exist in the referenced table; violations abort the statement).

Spark-first analogs:
- **Policy = enforced view composition.** A ``PolicyTable`` holds
  per-role quals; ``read(role)`` returns the base scan with the role's
  quals ANDed in (exactly how the reference injects securityQuals
  before planning — so pushdown/pruning still see plain predicates;
  nothing is filtered post-hoc).
- **FK = validation join at write time.** ``fk_insert`` anti-joins the
  incoming batch against the referenced keys and rejects the statement
  (all-or-nothing, like the reference's per-row trigger but set-based:
  one broadcast anti-join per batch instead of per-row probes — the
  scale-correct formulation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudberry_spark.catalog import load_table
from cloudberry_spark.registry import register


class PolicyTable:
    """rowsecurity.sql analog: per-role USING quals composed into every
    read; the owner (or a role with no policy and RLS forced off) sees
    all rows; a role with no matching policy sees none (default deny)."""

    def __init__(self, df: DataFrame, owner: str):
        self.df = df
        self.owner = owner
        self.policies: dict[str, list[Column]] = {}

    def create_policy(self, role: str, using: Column) -> None:
        self.policies.setdefault(role, []).append(using)

    def read(self, role: str) -> DataFrame:
        if role == self.owner:
            return self.df
        quals = self.policies.get(role)
        if not quals:
            return self.df.filter(F.lit(False))  # default deny
        cond = quals[0]
        for q in quals[1:]:
            cond = cond | q  # multiple permissive policies OR together
        return self.df.filter(cond)


class ForeignKeyViolation(RuntimeError):
    """PG: ERROR: insert or update on table violates foreign key."""


def fk_insert(
    base: DataFrame, batch: DataFrame, key: str, referenced: DataFrame, ref_key: str
) -> DataFrame:
    """Set-based FK check: any batch row whose key has no match in the
    referenced table aborts the whole statement (foreign_key.sql)."""
    refs = referenced.select(F.col(ref_key).alias("__fk_ref_key")).distinct()
    orphans = batch.join(
        F.broadcast(refs),
        batch[key] == F.col("__fk_ref_key"),
        "left_anti",
    ).count()
    if orphans:
        raise ForeignKeyViolation(
            f"{orphans} rows violate the foreign key on {key}"
        )
    return base.unionByName(batch)


@register(
    "regress_rowsecurity_policies",
    oracle="""
        SELECT 'owner' AS role, COUNT(*) AS n,
               CAST(ROUND(SUM(c_acctbal), 2) AS DOUBLE) AS bal FROM customer
        UNION ALL
        SELECT 'analyst', COUNT(*), CAST(ROUND(SUM(c_acctbal), 2) AS DOUBLE)
        FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION ALL
        SELECT 'regional', COUNT(*), CAST(ROUND(SUM(c_acctbal), 2) AS DOUBLE)
        FROM customer WHERE c_nationkey < 5 OR c_acctbal > 9000
        UNION ALL
        SELECT 'intern', COUNT(*), CAST(ROUND(SUM(c_acctbal), 2) AS DOUBLE)
        FROM customer WHERE FALSE
        ORDER BY role
    """,
    doc="rowsecurity.sql — CREATE POLICY USING quals per role: owner "
    "bypasses, 'analyst' sees one segment, 'regional' holds two "
    "permissive policies (ORed, rowsecurity.c), 'intern' has none "
    "(default deny). Quals compose into the scan pre-planning, so "
    "pushdown still applies; the oracle spells each role's filter.",
    tags=("regress", "security"),
)
def regress_rowsecurity_policies(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey", "c_acctbal"
    )
    pt = PolicyTable(cust, owner="owner")
    pt.create_policy("analyst", F.col("c_mktsegment") == "BUILDING")
    pt.create_policy("regional", F.col("c_nationkey") < 5)
    pt.create_policy("regional", F.col("c_acctbal") > 9000)
    frames = []
    for role in ("owner", "analyst", "regional", "intern"):
        frames.append(
            pt.read(role).agg(
                F.lit(role).alias("role"),
                F.count("*").alias("n"),
                F.round(F.sum("c_acctbal"), 2).cast("double").alias("bal"),
            ).select("role", "n", "bal")
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out.orderBy("role")


@register(
    "regress_foreign_key_enforcement",
    oracle="""
        SELECT 'violating_batch' AS step, 'error' AS outcome,
               (SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL) AS n
        UNION ALL
        SELECT 'valid_batch', 'ok',
               (SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL) + 5
        ORDER BY step
    """,
    doc="foreign_key.sql — statement-level FK enforcement as one "
    "broadcast anti-join per batch: a batch containing unknown customer "
    "keys aborts atomically (no partial insert); a clean batch lands. "
    "Returns the table's row count after each statement.",
    tags=("regress", "security"),
)
def regress_foreign_key_enforcement(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    ).filter(F.col("o_custkey").isNotNull())
    cust = load_table(spark, sf_dir, "customer")
    base_n = orders.count()
    bad = spark.createDataFrame(
        [(10 ** 9 + i, -i - 1) for i in range(3)]
        + [(2 * 10 ** 9, 1)],
        "o_orderkey long, o_custkey long",
    )
    rows = []
    cur = orders
    try:
        cur = fk_insert(cur, bad, "o_custkey", cust, "c_custkey")
        rows.append(("violating_batch", "ok", cur.count()))
    except ForeignKeyViolation:
        rows.append(("violating_batch", "error", base_n))
    good = cust.limit(5).select(
        (F.col("c_custkey") + 3 * 10 ** 9).alias("o_orderkey"),
        F.col("c_custkey").alias("o_custkey"),
    )
    cur = fk_insert(cur, good, "o_custkey", cust, "c_custkey")
    rows.append(("valid_batch", "ok", cur.count()))
    return spark.createDataFrame(
        rows, "step string, outcome string, n long"
    ).orderBy("step")


# ---------------------------------------------------------------------------
# Table privileges (GRANT/REVOKE) — privileges.sql:221-267 (atest1/2)
# ---------------------------------------------------------------------------


class PermissionDenied(RuntimeError):
    """PG: ERROR: permission denied for table ..."""


class AclTable:
    """Object-level ACL over a DataFrame: the owner holds every
    privilege implicitly; PUBLIC grants apply to all roles; role
    membership (GRANT role TO role, aclchk.c has_privs_of_role) is
    resolved transitively through a shared membership graph."""

    PRIVS = ("SELECT", "INSERT", "UPDATE", "DELETE", "TRUNCATE")

    def __init__(self, df: DataFrame, owner: str,
                 memberships: dict[str, set[str]] | None = None):
        self.df = df
        self.owner = owner
        self.acl: dict[str, set[str]] = {}
        self.memberships = memberships if memberships is not None else {}

    # -- grants ----------------------------------------------------------

    def grant(self, privs: str, role: str) -> None:
        got = (set(self.PRIVS) if privs.upper() == "ALL"
               else {p.strip().upper() for p in privs.split(",")})
        self.acl.setdefault(role, set()).update(got)

    # -- membership closure ----------------------------------------------

    def _roles_of(self, role: str) -> set[str]:
        out, todo = {role, "PUBLIC"}, [role]
        while todo:
            r = todo.pop()
            for parent in self.memberships.get(r, ()):  # r IS MEMBER OF parent
                if parent not in out:
                    out.add(parent)
                    todo.append(parent)
        return out

    def _check(self, role: str, priv: str) -> None:
        effective = self._roles_of(role)
        if self.owner in effective:
            return
        if not any(priv in self.acl.get(r, ()) for r in effective):
            raise PermissionDenied(f"{role}: permission denied ({priv})")

    # -- guarded operations ------------------------------------------------

    def select(self, role: str) -> DataFrame:
        self._check(role, "SELECT")
        return self.df

    def insert(self, role: str, rows: DataFrame) -> None:
        self._check(role, "INSERT")
        self.df = self.df.unionByName(rows)

    def update(self, role: str, col: str, value, where: Column) -> None:
        self._check(role, "UPDATE")
        self.df = self.df.withColumn(
            col, F.when(where, F.lit(value)).otherwise(F.col(col))
        )


@register(
    "regress_privileges_table_acl",
    oracle="""
        SELECT * FROM (VALUES
            (1, 'owner select atest1', 'ok: 1 rows'),
            (2, 'user2 select after revoke-all-from-public', 'ERROR: permission denied'),
            (3, 'user2 select after grant all', 'ok: 1 rows'),
            (4, 'user2 insert atest1', 'ok'),
            (5, 'user3 select atest1 (SELECT-only grant)', 'ok: 2 rows'),
            (6, 'user3 insert atest1', 'ERROR: permission denied'),
            (7, 'user2 insert atest2 (SELECT-only grant)', 'ERROR: permission denied'),
            (8, 'user3 update atest2 (UPDATE-only grant)', 'ok'),
            (9, 'user3 select atest2', 'ERROR: permission denied'),
            (10, 'user6 select atest1 via membership in user1', 'ok: 2 rows')
        ) t(stage, event, detail) ORDER BY stage
    """,
    doc="privileges.sql:221-267 (atest1/atest2): REVOKE ALL FROM "
    "PUBLIC locks everyone but the owner out; GRANT ALL / SELECT / "
    "UPDATE confer exactly the named operations (SELECT-only cannot "
    "INSERT, UPDATE-only cannot SELECT); GRANT role TO role makes the "
    "member inherit the granted role's (owner) privileges "
    "transitively (aclchk.c has_privs_of_role).",
    tags=("security", "privileges"),
)
def regress_privileges_table_acl(spark: SparkSession, sf_dir: str) -> DataFrame:
    memberships: dict[str, set[str]] = {}
    atest1 = AclTable(
        spark.createDataFrame([(1, "one")], "a int, b string"),
        owner="user1", memberships=memberships)
    atest2 = AclTable(
        spark.createDataFrame([("foo", True)], "col1 string, col2 boolean"),
        owner="user1", memberships=memberships)
    rows: list[tuple[int, str, str]] = []

    def attempt(stage: int, event: str, fn) -> None:
        try:
            out = fn()
            n = f": {out.count()} rows" if isinstance(out, DataFrame) else ""
            rows.append((stage, event, f"ok{n}"))
        except PermissionDenied:
            rows.append((stage, event, "ERROR: permission denied"))

    attempt(1, "owner select atest1", lambda: atest1.select("user1"))
    # REVOKE ALL ON atest1 FROM PUBLIC (the default state here: no
    # PUBLIC grant exists) -> non-owner reads fail
    attempt(2, "user2 select after revoke-all-from-public",
            lambda: atest1.select("user2"))
    atest1.grant("ALL", "user2")
    atest1.grant("SELECT", "user3")
    atest1.grant("SELECT", "user4")
    atest2.grant("SELECT", "user2")
    atest2.grant("UPDATE", "user3")
    attempt(3, "user2 select after grant all", lambda: atest1.select("user2"))
    attempt(4, "user2 insert atest1", lambda: atest1.insert(
        "user2", spark.createDataFrame([(2, "two")], "a int, b string")))
    attempt(5, "user3 select atest1 (SELECT-only grant)",
            lambda: atest1.select("user3"))
    attempt(6, "user3 insert atest1", lambda: atest1.insert(
        "user3", spark.createDataFrame([(3, "three")], "a int, b string")))
    attempt(7, "user2 insert atest2 (SELECT-only grant)",
            lambda: atest2.insert(
                "user2",
                spark.createDataFrame([("bar", False)], "col1 string, col2 boolean")))
    attempt(8, "user3 update atest2 (UPDATE-only grant)",
            lambda: atest2.update("user3", "col2", False,
                                  F.col("col1") == "foo"))
    attempt(9, "user3 select atest2", lambda: atest2.select("user3"))
    # GRANT user1 TO user6: user6 inherits the owner's privileges
    memberships.setdefault("user6", set()).add("user1")
    attempt(10, "user6 select atest1 via membership in user1",
            lambda: atest1.select("user6"))
    return spark.createDataFrame(
        rows, "stage int, event string, detail string").orderBy("stage")


@register(
    "regress_privileges_role_membership",
    oracle="""
        SELECT * FROM (VALUES
            (1, 'user3 via chain u3->u2->u1', 'ok: 1 rows'),
            (2, 'user3 after revoke u2 from u1-chain', 'ERROR: permission denied'),
            (3, 'user2 direct membership intact', 'ok: 1 rows')
        ) t(stage, event, detail) ORDER BY stage
    """,
    doc="privileges.sql:74-81 (role membership revocation): GRANT "
    "user1 TO user2, GRANT user2 TO user3 — user3 reaches user1's "
    "objects transitively; REVOKE user2's membership severs user3 "
    "but leaves user2's direct membership intact (CASCADE dependency "
    "semantics).",
    tags=("security", "privileges"),
)
def regress_privileges_role_membership(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    memberships: dict[str, set[str]] = {
        "user2": {"user1"},
        "user3": {"user2"},
    }
    t = AclTable(
        spark.createDataFrame([(1,)], "a int"), owner="user1",
        memberships=memberships)
    rows: list[tuple[int, str, str]] = []

    def attempt(stage: int, event: str, role: str) -> None:
        try:
            n = t.select(role).count()
            rows.append((stage, event, f"ok: {n} rows"))
        except PermissionDenied:
            rows.append((stage, event, "ERROR: permission denied"))

    attempt(1, "user3 via chain u3->u2->u1", "user3")
    memberships["user3"].discard("user2")  # REVOKE user2 FROM user3
    attempt(2, "user3 after revoke u2 from u1-chain", "user3")
    attempt(3, "user2 direct membership intact", "user2")
    return spark.createDataFrame(
        rows, "stage int, event string, detail string").orderBy("stage")
