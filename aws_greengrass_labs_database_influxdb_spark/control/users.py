"""InfluxQL v1 user management: CREATE/DROP USER, GRANT/REVOKE,
SHOW USERS / SHOW GRANTS, SET PASSWORD.

The reference's auth surface is v2 token vending (its Layer A
contract); InfluxDB 1.x compatibility additionally speaks these DDL
statements on ``/query`` (public InfluxQL spec). This registry backs
them with the same engine state model as the token registry — small
JSON-serializable records, admin-gated mutation, salted-hash
passwords (never plaintext at rest). v1 privileges map onto the v2
model the way the DBRP service does: db ≡ bucket, READ/WRITE ≡ the
scoped token permissions.
"""

from __future__ import annotations

import hashlib
import hmac
import secrets as _secrets
from dataclasses import dataclass, field

from .secrets import validate_password

_PRIVS = ("READ", "WRITE", "ALL")


class UserError(ValueError):
    """Typed v1 user-management error → 400/404 at the facade."""


# PBKDF2 work factor: upstream InfluxDB 1.x uses bcrypt(cost=10); a
# keyed-stretch KDF with ~1e5 iterations is the stdlib equivalent —
# a dumped registry costs ~100k SHA-256 per guess instead of 1. A
# stored hash is never a plain salted SHA-256, which an offline guesser
# brute-forces.
_PBKDF2_ITERS = 100_000


def _hash(password: str, salt: str) -> str:
    return hashlib.pbkdf2_hmac(
        "sha256", password.encode(), salt.encode(), _PBKDF2_ITERS
    ).hex()


@dataclass
class UserRecord:
    name: str
    salt: str
    pw_hash: str
    admin: bool = False
    grants: dict[str, str] = field(default_factory=dict)  # db → privilege


class UserRegistry:
    """In-process stand-in for the 1.x meta-store user table."""

    def __init__(self):
        self._users: dict[str, UserRecord] = {}

    def create(self, name: str, password: str, admin: bool = False) -> UserRecord:
        if name in self._users:
            raise UserError(f"user already exists: {name}")
        validate_password(password)
        salt = _secrets.token_hex(8)
        rec = UserRecord(name=name, salt=salt, pw_hash=_hash(password, salt),
                         admin=admin)
        self._users[name] = rec
        return rec

    def drop(self, name: str) -> None:
        if name not in self._users:
            raise UserError(f"user not found: {name}")
        del self._users[name]

    def set_password(self, name: str, password: str) -> None:
        rec = self._get(name)
        validate_password(password)
        rec.salt = _secrets.token_hex(8)
        rec.pw_hash = _hash(password, rec.salt)

    def check_password(self, name: str, password: str) -> bool:
        rec = self._users.get(name)
        # constant-time compare: digest equality must not leak a
        # prefix-length timing channel
        return bool(rec) and hmac.compare_digest(
            _hash(password, rec.salt), rec.pw_hash
        )

    def grant(self, name: str, db: str, privilege: str) -> None:
        rec = self._get(name)
        priv = privilege.upper()
        if priv not in _PRIVS:
            raise UserError(f"invalid privilege {privilege!r} (READ/WRITE/ALL)")
        rec.grants[db] = priv

    def grant_all(self, name: str) -> None:
        self._get(name).admin = True

    def revoke(self, name: str, db: str, privilege: str) -> None:
        rec = self._get(name)
        priv = privilege.upper()
        if priv not in _PRIVS:
            raise UserError(f"invalid privilege {privilege!r} (READ/WRITE/ALL)")
        cur = rec.grants.get(db)
        if cur is None:
            return
        if priv == "ALL" or cur == priv:
            del rec.grants[db]
        elif cur == "ALL":
            # revoking one half of ALL leaves the other (1.x semantics)
            rec.grants[db] = "WRITE" if priv == "READ" else "READ"

    def revoke_all(self, name: str) -> None:
        self._get(name).admin = False

    def show_users(self) -> list[tuple[str, bool]]:
        return sorted((r.name, r.admin) for r in self._users.values())

    def show_grants(self, name: str) -> list[tuple[str, str]]:
        return sorted(self._get(name).grants.items())

    def _get(self, name: str) -> UserRecord:
        if name not in self._users:
            raise UserError(f"user not found: {name}")
        return self._users[name]
