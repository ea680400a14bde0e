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

CREATE_ROLE = re.compile(
    r"^\s*CREATE\s+ROLE\s+(?P<role>[A-Za-z_][\w]*)\s*;?\s*$", re.IGNORECASE
)
DROP_ROLE = re.compile(
    r"^\s*DROP\s+ROLE\s+(?P<role>[A-Za-z_][\w]*)\s*;?\s*$", re.IGNORECASE
)
GRANT_ROLE = re.compile(
    r"^\s*GRANT\s+ROLE\s+(?P<role>[A-Za-z_][\w]*)\s+TO\s+GROUP\s+"
    r"(?P<group>[A-Za-z_][\w]*)\s*;?\s*$",
    re.IGNORECASE,
)
REVOKE_ROLE = re.compile(
    r"^\s*REVOKE\s+ROLE\s+(?P<role>[A-Za-z_][\w]*)\s+FROM\s+GROUP\s+"
    r"(?P<group>[A-Za-z_][\w]*)\s*;?\s*$",
    re.IGNORECASE,
)
GRANT_PRIV = re.compile(
    r"^\s*GRANT\s+(?P<priv>" + _PRIV + r")\s+ON\s+" + _OBJ
    + r"\s+TO\s+(?:ROLE\s+)?(?P<role>[A-Za-z_][\w]*)"
    r"(?P<wgo>\s+WITH\s+GRANT\s+OPTION)?\s*;?\s*$",
    re.IGNORECASE,
)
REVOKE_PRIV = re.compile(
    r"^\s*REVOKE\s+(?:GRANT\s+OPTION\s+FOR\s+)?(?P<priv>" + _PRIV
    + r")\s+ON\s+" + _OBJ
    + r"\s+FROM\s+(?:ROLE\s+)?(?P<role>[A-Za-z_][\w]*)\s*;?\s*$",
    re.IGNORECASE,
)
SHOW_ROLES = re.compile(r"^\s*SHOW\s+ROLES\s*;?\s*$", re.IGNORECASE)
SHOW_CURRENT_ROLES = re.compile(
    r"^\s*SHOW\s+CURRENT\s+ROLES\s*;?\s*$", re.IGNORECASE
)
SHOW_ROLE_GRANT_GROUP = re.compile(
    r"^\s*SHOW\s+ROLE\s+GRANT\s+GROUP\s+(?P<group>[A-Za-z_][\w]*)\s*;?\s*$",
    re.IGNORECASE,
)
SHOW_GRANT = re.compile(
    r"^\s*SHOW\s+GRANT\s+(?P<ptype>ROLE|USER|GROUP)\s+"
    r"(?P<principal>[A-Za-z_][\w]*)"
    r"(?P<onclause>\s+ON\s+" + _OBJ + r")?\s*;?\s*$",
    re.IGNORECASE,
)

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

    def handle(self, spark, sql: str):
        """Try the statement against the auth grammar; a DataFrame if
        handled, None if it isn't an authorization statement."""
        m = CREATE_ROLE.match(sql)
        if m:
            self.roles.add(m.group("role").lower())
            return self._status(spark)
        m = DROP_ROLE.match(sql)
        if m:
            role = m.group("role").lower()
            self.roles.discard(role)
            for rs in self.group_roles.values():
                rs.discard(role)
            self.privs = {k: v for k, v in self.privs.items() if k[0] != role}
            return self._status(spark)
        m = GRANT_ROLE.match(sql)
        if m:
            role = m.group("role").lower()
            if role not in self.roles:
                raise ValueError(f"role does not exist: {role}")
            self.group_roles.setdefault(m.group("group").lower(), set()).add(role)
            return self._status(spark)
        m = REVOKE_ROLE.match(sql)
        if m:
            self.group_roles.setdefault(
                m.group("group").lower(), set()
            ).discard(m.group("role").lower())
            return self._status(spark)
        m = GRANT_PRIV.match(sql)
        if m:
            role = m.group("role").lower()
            if role not in self.roles:
                raise ValueError(f"role does not exist: {role}")
            scope, name = _obj(m)
            key = (role, scope, name, m.group("priv").lower())
            self.privs[key] = bool(m.group("wgo"))
            return self._status(spark)
        m = REVOKE_PRIV.match(sql)
        if m:
            scope, name = _obj(m)
            self.privs.pop(
                (m.group("role").lower(), scope, name,
                 m.group("priv").lower()),
                None,
            )
            return self._status(spark)
        m = SHOW_ROLES.match(sql) or SHOW_CURRENT_ROLES.match(sql)
        if m:
            rows = [(r,) for r in sorted(self.roles)]
            return rows_df(spark, rows, "role_name string")
        m = SHOW_ROLE_GRANT_GROUP.match(sql)
        if m:
            rows = [
                (r,)
                for r in sorted(
                    self.group_roles.get(m.group("group").lower(), set())
                )
            ]
            return rows_df(spark, rows, "role_name string")
        m = SHOW_GRANT.match(sql)
        if m:
            return self._show_grant(spark, m)
        return None

    def _show_grant(self, spark, m: re.Match):
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
        return rows_df(spark, rows, schema)

    @staticmethod
    def _status(spark):
        return spark.sql("SELECT 1 AS status")
