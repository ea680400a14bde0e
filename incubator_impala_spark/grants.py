"""Authorization-statement veneer: GRANT/REVOKE/role DDL.

Reference surface (fe/src/main/java/org/apache/impala/analysis/
GrantRevokeRoleStmt.java, GrantRevokePrivStmt.java, CreateDropRoleStmt
.java, ShowRolesStmt.java, ShowGrantPrincipalStmt.java; grammar
sql-parser.cup grant_privilege_stmt / revoke_role_stmt / ...):

    CREATE ROLE r / DROP ROLE r
    GRANT ROLE r TO GROUP g / REVOKE ROLE r FROM GROUP g
    GRANT priv ON (SERVER|DATABASE d|TABLE t|URI 'u') TO [ROLE] r
        [WITH GRANT OPTION]
    REVOKE [GRANT OPTION FOR] priv ON obj FROM [ROLE] r
    SHOW ROLES / SHOW CURRENT ROLES / SHOW ROLE GRANT GROUP g
    SHOW GRANT ROLE r [ON obj] / SHOW GRANT USER u / SHOW GRANT GROUP g

The reference delegates storage and enforcement to an authorization
service (Sentry/Ranger). None exists in this environment, so this is
an accept-and-record veneer: statements parse, mutate an in-memory
grants registry scoped to the Engine, and the SHOW forms answer from
it with the reference's column shape. NO ENFORCEMENT happens — every
query remains runnable regardless of grants — and the registry does
not survive the session (documented in DIALECT.md).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from incubator_impala_spark.session import rows_df


_PRIV = r"(?:ALL|ALTER|CREATE|DROP|INSERT|REFRESH|SELECT)"
_OBJ = (
    r"(?:SERVER(?:\s+(?P<server>[A-Za-z_][\w]*))?"
    r"|DATABASE\s+(?P<db>[A-Za-z_][\w]*)"
    r"|TABLE\s+(?P<tbl>[A-Za-z_][\w.]*)"
    r"|URI\s+'(?P<uri>[^']*)')"
)

# What follows each statement head: the parts of the rows statements.py
# compiles (it matches the heads)
_NAME = r"(?P<{}>[A-Za-z_][\w]*)"
_END = r"\s*;?\s*$"
ROLE = r"\s+" + _NAME.format("role") + _END
GRANT_ROLE, REVOKE_ROLE = (
    r"\s+" + _NAME.format("role") + rf"\s+{to}\s+GROUP\s+"
    + _NAME.format("group") + _END for to in ("TO", "FROM"))
GRANT = (
    r"\s+(?P<priv>" + _PRIV + r")\s+ON\s+" + _OBJ
    + r"\s+TO\s+(?:ROLE\s+)?" + _NAME.format("role")
    + r"(?P<wgo>\s+WITH\s+GRANT\s+OPTION)?" + _END)
REVOKE = (
    r"\s+(?:GRANT\s+OPTION\s+FOR\s+)?(?P<priv>" + _PRIV + r")\s+ON\s+"
    + _OBJ + r"\s+FROM\s+(?:ROLE\s+)?" + _NAME.format("role") + _END)
NOTHING = _END
GROUP = r"\s+GROUP\s+" + _NAME.format("group") + _END
PRINCIPAL = (
    r"\s+(?P<ptype>ROLE|USER|GROUP)\s+" + _NAME.format("principal")
    + r"(?P<onclause>\s+ON\s+" + _OBJ + r")?" + _END)

# SHOW GRANT output shape (ShowGrantPrincipalStmt.java result set)
GRANT_COLUMNS = [
    "principal_type", "principal_name", "scope", "name",
    "privilege", "grant_option",
]


def _obj(m: re.Match) -> tuple[str, str]:
    if m.group("db"):
        return "database", m.group("db").lower()
    if m.group("tbl"):
        return "table", m.group("tbl").lower()
    if m.group("uri"):
        return "uri", m.group("uri")
    return "server", (m.group("server") or "server1").lower()


@dataclass
class GrantRegistry:
    """In-memory role/privilege store (no enforcement — see module
    docstring). One per Engine."""

    roles: set = field(default_factory=set)
    # group -> set of role names
    group_roles: dict = field(default_factory=dict)
    # (role, scope, name, priv) -> grant_option
    privs: dict = field(default_factory=dict)

    # -- statements (rows of statements.ROWS) ---------------------------

    def create_role(self, engine, stmt, m: re.Match):
        self.roles.add(m.group("role").lower())
        return self._status(engine.spark)

    def drop_role(self, engine, stmt, m: re.Match):
        role = m.group("role").lower()
        self.roles.discard(role)
        for rs in self.group_roles.values():
            rs.discard(role)
        self.privs = {k: v for k, v in self.privs.items() if k[0] != role}
        return self._status(engine.spark)

    def grant_role(self, engine, stmt, m: re.Match):
        role = m.group("role").lower()
        if role not in self.roles:
            raise ValueError(f"role does not exist: {role}")
        self.group_roles.setdefault(m.group("group").lower(), set()).add(role)
        return self._status(engine.spark)

    def revoke_role(self, engine, stmt, m: re.Match):
        self.group_roles.setdefault(
            m.group("group").lower(), set()
        ).discard(m.group("role").lower())
        return self._status(engine.spark)

    def grant(self, engine, stmt, m: re.Match):
        role = m.group("role").lower()
        if role not in self.roles:
            raise ValueError(f"role does not exist: {role}")
        scope, name = _obj(m)
        key = (role, scope, name, m.group("priv").lower())
        self.privs[key] = bool(m.group("wgo"))
        return self._status(engine.spark)

    def revoke(self, engine, stmt, m: re.Match):
        scope, name = _obj(m)
        self.privs.pop(
            (m.group("role").lower(), scope, name,
             m.group("priv").lower()),
            None,
        )
        return self._status(engine.spark)

    def show_roles(self, engine, stmt, m: re.Match):
        rows = [(r,) for r in sorted(self.roles)]
        return rows_df(engine.spark, rows, "role_name string")

    def show_role_grant(self, engine, stmt, m: re.Match):
        roles = self.group_roles.get(m.group("group").lower(), set())
        return rows_df(engine.spark, [(r,) for r in sorted(roles)],
                       "role_name string")

    def show_grant(self, engine, stmt, m: re.Match):
        ptype = m.group("ptype").upper()
        principal = m.group("principal").lower()
        if ptype == "ROLE":
            roles = {principal}
        else:
            # USER and GROUP resolve through group membership; with no
            # directory service, a user's groups = the group of the
            # same name (documented simplification).
            roles = self.group_roles.get(principal, set())
        # Filter on the *presence* of the ON clause, not the individual
        # object groups: `SHOW GRANT ... ON SERVER` (no server name)
        # leaves every object group None but must still restrict to
        # server scope with the same 'server1' default GRANT uses.
        obj_filter = _obj(m) if m.group("onclause") else None
        rows = [
            (ptype, principal, scope, name, priv, wgo)
            for (role, scope, name, priv), wgo in sorted(self.privs.items())
            if role in roles
            and (obj_filter is None or (scope, name) == obj_filter)
        ]
        schema = (
            "principal_type string, principal_name string, scope string, "
            "name string, privilege string, grant_option boolean"
        )
        return rows_df(engine.spark, rows, schema)

    @staticmethod
    def _status(spark):
        return spark.sql("SELECT 1 AS status")
