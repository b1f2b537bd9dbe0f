"""OpenAI-compatible HTTP provider (SURVEY §2.8 real-model path).

Mirrors the reference's client wiring (/root/reference/src/main.rs:451-454:
OPENAI_API_KEY required, OPENAI_API_URL optional override;
openai.rs:14-33). Env-gated and import-light: constructed only when the
caller opts in, never on the oracle path (SURVEY §7 build rule 6 — real
providers are never oracle-checked).

Embeddings fall back to the deterministic mock unless an embedding endpoint
is configured — the reference's local-ONNX embedder has no HTTP analog.
"""

from __future__ import annotations

import json
import os
import urllib.request
from collections.abc import Iterator

from cargo_chat_spark.models.mock import MockProvider
from cargo_chat_spark.models.provider import Classification

_CLASSIFY_SCHEMA = {
    "type": "object",
    "properties": {
        "language": {"type": ["string", "null"]},
        "intent": {"type": "string"},
        "wants_code": {"type": "boolean"},
        "confidence": {"type": "number"},
        "target_folders": {"type": ["array", "null"], "items": {"type": "string"}},
        "target_extensions": {"type": ["array", "null"], "items": {"type": "string"}},
        "exclude_patterns": {"type": ["array", "null"], "items": {"type": "string"}},
    },
    "required": ["intent", "wants_code", "confidence"],
}


_SCOPE_FIELDS = ("target_folders", "target_extensions", "exclude_patterns")


def _parse_classification(d) -> Classification:
    """The classification JSON as a ``Classification``, checked against
    ``_CLASSIFY_SCHEMA`` the way the reference's typed parse checks it: a
    field of the wrong JSON type raises ``ValueError`` naming the field,
    instead of reaching ranking (a ``null`` or ``"false"`` ``wants_code``
    would rank the question wrongly)."""
    if not isinstance(d, dict):
        raise ValueError(f"classification must be a JSON object, got {d!r}")

    def check(field: str, ok: bool, want: str) -> None:
        if not ok:
            raise ValueError(
                f"classification field {field!r} must be {want}, "
                f"got {d.get(field)!r}"
            )

    conf = d.get("confidence")
    check("wants_code", isinstance(d.get("wants_code"), bool), "a boolean")
    check("confidence", isinstance(conf, (int, float))
          and not isinstance(conf, bool), "a number")
    check("intent", isinstance(d.get("intent"), str), "a string")
    check("language", d.get("language") is None
          or isinstance(d["language"], str), "null or a string")
    for field in _SCOPE_FIELDS:
        v = d.get(field)
        check(field, v is None or (isinstance(v, list)
                                   and all(isinstance(x, str) for x in v)),
              "null or an array of strings")
    return Classification(
        language=d.get("language"),
        intent=d["intent"],
        wants_code=d["wants_code"],
        confidence=float(conf),
        **{field: d.get(field) for field in _SCOPE_FIELDS},
    )


class OpenAIHttpProvider(MockProvider):
    """Chat-completion-backed classify/HyDE/answer; inherits deterministic
    embed/rerank from the mock (swap in real endpoints as available)."""

    def __init__(
        self,
        dim: int = 16,
        hyde_model: str = "gpt-4o-mini",   # main.rs:71-75 defaults
        answer_model: str = "gpt-4o",
        transport=None,                    # injectable for tests
        stream_transport=None,             # injectable: yields raw SSE lines
    ):
        super().__init__(dim=dim)
        key = os.environ.get("OPENAI_API_KEY")
        if not key and transport is None:
            raise OSError("OPENAI_API_KEY is required (main.rs:451-452)")
        self.api_key = key
        self.api_url = os.environ.get(
            "OPENAI_API_URL", "https://api.openai.com/v1"
        ).rstrip("/")
        self.hyde_model = hyde_model
        self.answer_model = answer_model
        self._transport = transport or self._http_post
        self._stream_transport = stream_transport or self._http_post_stream

    def _http_post(self, path: str, payload: dict) -> dict:
        req = urllib.request.Request(
            f"{self.api_url}{path}",
            data=json.dumps(payload).encode(),
            headers={
                "Content-Type": "application/json",
                "Authorization": f"Bearer {self.api_key}",
            },
        )
        with urllib.request.urlopen(req, timeout=60) as resp:
            return json.load(resp)

    def _chat(self, model: str, messages: list[dict], **kw) -> str:
        out = self._transport(
            "/chat/completions", {"model": model, "messages": messages, **kw}
        )
        return out["choices"][0]["message"]["content"]

    # M3: strict JSON-schema structured output (hyde.rs:350-466)
    def classify_query(self, query: str) -> Classification:
        content = self._chat(
            self.hyde_model,
            [
                {"role": "system", "content": "Classify the code-search query. Respond with JSON only."},
                {"role": "user", "content": query},
            ],
            temperature=0.1,
            max_tokens=200,  # hyde.rs:406-407
            response_format={
                "type": "json_schema",
                "json_schema": {"name": "query_classification", "schema": _CLASSIFY_SCHEMA},
            },
        )
        return _parse_classification(json.loads(content))

    # M4 (hyde.rs:317-347; temp 0.2 / max 1024 per hyde.rs:597-598)
    def hyde_document(self, query: str, intent: str, max_chars: int = 1000) -> str:
        content = self._chat(
            self.hyde_model,
            [
                {
                    "role": "system",
                    "content": f"Write a hypothetical {intent} document (max {max_chars} chars) answering the query.",
                },
                {"role": "user", "content": query},
            ],
            temperature=0.2,
            max_tokens=1024,
        )
        return content[:max_chars]

    def _http_post_stream(self, path: str, payload: dict) -> Iterator[str]:
        """POST with a streaming body; yields response lines as they arrive
        (the lazily-consumed byte stream of hyde.rs:780-786)."""
        req = urllib.request.Request(
            f"{self.api_url}{path}",
            data=json.dumps(payload).encode(),
            headers={
                "Content-Type": "application/json",
                "Authorization": f"Bearer {self.api_key}",
            },
        )
        with urllib.request.urlopen(req, timeout=60) as resp:
            for raw in resp:
                yield raw.decode("utf-8", errors="replace")

    # M6 (hyde.rs:605-764; temp 0.0 / max 2048). Streaming SSE parse per
    # hyde.rs:788-810: each event is a `data: ` line holding a chunk JSON;
    # `data: [DONE]` is the end sentinel; blank lines are event separators;
    # tokens surface to the caller AS THEY ARRIVE (lazy generator), not
    # after the full response.
    def synthesize_answer(self, prompt: str) -> Iterator[str]:
        lines = self._stream_transport(
            "/chat/completions",
            {
                "model": self.answer_model,
                "messages": [{"role": "user", "content": prompt}],
                "temperature": 0.0,
                "max_tokens": 2048,
                "stream": True,
            },
        )
        for line in lines:
            line = line.strip()
            if not line or not line.startswith("data:"):
                continue  # event separators / comment lines (hyde.rs:795)
            data = line[len("data:"):].strip()
            if data == "[DONE]":  # hyde.rs:797-799 sentinel
                return
            try:
                chunk = json.loads(data)
            except json.JSONDecodeError:
                continue  # partial/keep-alive frame: skip, as the reference does
            for choice in chunk.get("choices", []):
                token = (choice.get("delta") or {}).get("content")
                if token:
                    yield token
