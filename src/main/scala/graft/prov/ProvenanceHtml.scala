package graft.prov

/** Static HTML renderer for provenance graphs — the rendering half of the
  * reference's web UI (SAMbA/WebApplication/src/main/kotlin/br/uff/samba/web/
  * controllers/PagesCtrl.kt:13-73 serves dataflow/task/element pages from a
  * Spring app backed by Cassandra). Here the same two views — the task DAG
  * and the element lineage graph — render from ONE self-contained HTML file
  * with zero external dependencies, so the page works from a file:// URL on
  * an air-gapped cluster edge node.
  *
  * Rendering choices (deliberate, not incidental):
  *   - Layered DAG layout (longest-path depth + barycenter ordering), not a
  *     force simulation: provenance graphs are DAGs, layering is O(V+E) and
  *     deterministic, and lineage reads left→right as "time".
  *   - Canvas, not SVG: the element view can hold thousands of nodes; one
  *     canvas redraw beats thousands of DOM nodes.
  *   - Element nodes are colored by producing task from a fixed 8-slot
  *     colorblind-validated categorical palette (adjacent-pair CVD dE >= 8 in
  *     both modes); tasks beyond 8 fold to a neutral "Other" slot — never a
  *     generated 9th hue. Identity is never color-alone: the legend lists
  *     every task and hover tooltips name the task and value.
  *   - Light/dark are both first-class: the dark column is the same hues
  *     re-stepped for the dark surface, swapped via CSS custom properties
  *     under `prefers-color-scheme`; text wears ink tokens, never series hues.
  */
private[prov] object ProvenanceHtml {

  /** Full HTML document. `taskGraph` / `elementGraph` are JSON strings
    * (`{"nodes":[...],"links":[...]}`) whose string values are already
    * `<`-escaped, so embedding in a `<script>` block is safe.
    */
  def page(executionId: String, taskGraph: String, elementGraph: String,
           shown: Int, total: Long): String = {
    val truncNote =
      if (shown < total) s"showing first $shown of $total elements — use exportJson for the full graph"
      else s"$total elements"
    s"""<!DOCTYPE html>
<html lang="en">
<head>
<meta charset="utf-8">
<meta name="viewport" content="width=device-width, initial-scale=1">
<title>Provenance — ${esc(executionId)}</title>
<style>
  .viz-root {
    color-scheme: light;
    --surface-1: #fcfcfb; --surface-2: #f0efec;
    --text-primary: #0b0b0b; --text-secondary: #52514e; --text-muted: #7a786f;
    --edge: #c9c8c2; --node-ring: #fcfcfb;
    --s1:#2a78d6; --s2:#eb6834; --s3:#1baf7a; --s4:#eda100;
    --s5:#e87ba4; --s6:#008300; --s7:#4a3aa7; --s8:#e34948;
    --other:#9b998f;
  }
  @media (prefers-color-scheme: dark) {
    .viz-root {
      color-scheme: dark;
      --surface-1: #1a1a19; --surface-2: #383835;
      --text-primary: #ffffff; --text-secondary: #c3c2b7; --text-muted: #8f8d82;
      --edge: #4a4a46; --node-ring: #1a1a19;
      --s1:#3987e5; --s2:#d95926; --s3:#199e70; --s4:#c98500;
      --s5:#d55181; --s6:#008300; --s7:#9085e9; --s8:#e66767;
      --other:#7a786f;
    }
  }
  html, body { margin: 0; padding: 0; }
  .viz-root {
    background: var(--surface-1); color: var(--text-primary);
    font: 13px/1.45 system-ui, -apple-system, "Segoe UI", sans-serif;
    min-height: 100vh; padding: 16px 20px; box-sizing: border-box;
  }
  h1 { font-size: 16px; font-weight: 600; margin: 0 0 2px; }
  .sub { color: var(--text-secondary); margin: 0 0 14px; }
  .panel { margin-bottom: 22px; }
  .panel h2 { font-size: 13px; font-weight: 600; margin: 0 0 6px;
              color: var(--text-primary); }
  .panel .hint { color: var(--text-muted); font-size: 11px; margin: 2px 0 6px; }
  canvas { display: block; width: 100%; height: 420px; border: 1px solid var(--surface-2);
           border-radius: 6px; background: var(--surface-1); cursor: grab; }
  canvas:active { cursor: grabbing; }
  .legend { display: flex; flex-wrap: wrap; gap: 4px 14px; margin: 8px 0 0;
            color: var(--text-secondary); font-size: 11.5px; }
  .legend .item { display: inline-flex; align-items: center; gap: 5px; }
  .legend .swatch { width: 9px; height: 9px; border-radius: 2px; display: inline-block; }
  #tooltip { position: fixed; pointer-events: none; display: none; z-index: 10;
             background: var(--surface-1); color: var(--text-primary);
             border: 1px solid var(--surface-2); border-radius: 5px;
             padding: 6px 9px; font-size: 11.5px; max-width: 360px;
             box-shadow: 0 2px 8px rgba(0,0,0,.18); }
  #tooltip .tt-sub { color: var(--text-secondary); }
</style>
</head>
<body>
<div class="viz-root">
  <h1>Provenance — ${esc(executionId)}</h1>
  <p class="sub">$truncNote</p>
  <div class="panel">
    <h2>Task graph</h2>
    <p class="hint">scroll to zoom, drag to pan, hover a node for details</p>
    <canvas id="taskCanvas"></canvas>
  </div>
  <div class="panel">
    <h2>Element lineage</h2>
    <p class="hint">colored by producing task; scroll to zoom, drag to pan, hover for values</p>
    <canvas id="elemCanvas"></canvas>
    <div class="legend" id="elemLegend"></div>
  </div>
</div>
<div id="tooltip"></div>
<script>
"use strict";
const TASK_GRAPH = $taskGraph;
const ELEM_GRAPH = $elementGraph;

const css = name => getComputedStyle(document.querySelector(".viz-root"))
  .getPropertyValue(name).trim();
const SLOTS = ["--s1","--s2","--s3","--s4","--s5","--s6","--s7","--s8"];

/* Layered DAG layout: depth = longest path from a root (left to right reads
   as dataflow order), then a few barycenter passes to reduce crossings. */
function layout(graph) {
  const nodes = graph.nodes, links = graph.links;
  const byId = new Map(nodes.map(n => [n.id, n]));
  const out = new Map(), ind = new Map();
  nodes.forEach(n => { out.set(n.id, []); ind.set(n.id, 0); n.parents = []; });
  links.forEach(l => {
    if (!byId.has(l.source) || !byId.has(l.target)) return;
    out.get(l.source).push(l.target);
    ind.set(l.target, ind.get(l.target) + 1);
    byId.get(l.target).parents.push(l.source);
  });
  // Kahn order, then longest-path depth
  const q = nodes.filter(n => ind.get(n.id) === 0).map(n => n.id);
  const depth = new Map(q.map(id => [id, 0]));
  const order = [];
  const indLeft = new Map(ind);
  while (q.length) {
    const id = q.shift(); order.push(id);
    for (const t of out.get(id)) {
      depth.set(t, Math.max(depth.get(t) || 0, (depth.get(id) || 0) + 1));
      indLeft.set(t, indLeft.get(t) - 1);
      if (indLeft.get(t) === 0) q.push(t);
    }
  }
  nodes.forEach(n => { n.depth = depth.get(n.id) || 0; });
  const layers = [];
  nodes.forEach(n => { (layers[n.depth] = layers[n.depth] || []).push(n); });
  layers.forEach(layer => layer.forEach((n, i) => { n.y = i; }));
  // barycenter passes over parent positions
  const pos = new Map();
  for (let pass = 0; pass < 4; pass++) {
    nodes.forEach(n => pos.set(n.id, n.y));
    layers.forEach(layer => {
      layer.forEach(n => {
        if (n.parents.length)
          n.bc = n.parents.reduce((s, p) => s + (pos.get(p) || 0), 0) / n.parents.length;
        else n.bc = n.y;
      });
      layer.sort((a, b) => a.bc - b.bc || (a.id < b.id ? -1 : 1));
      layer.forEach((n, i) => { n.y = i; });
    });
  }
  const maxDepth = Math.max(1, ...nodes.map(n => n.depth));
  const maxRows = Math.max(1, ...layers.map(l => l.length));
  nodes.forEach(n => {
    const rows = layers[n.depth].length;
    n.px = 60 + n.depth * Math.max(120, 900 / maxDepth);
    n.py = 40 + (n.y + 0.5) * (Math.min(3000, Math.max(340, maxRows * 18)) / rows);
  });
  graph.links = links.filter(l => byId.has(l.source) && byId.has(l.target));
  graph.byId = byId;
  return graph;
}

function makeView(canvasId, graph, colorOf, tipHtml) {
  const canvas = document.getElementById(canvasId);
  const ctx = canvas.getContext("2d");
  const dpr = window.devicePixelRatio || 1;
  let tx = 0, ty = 0, scale = 1, hover = null;
  function resize() {
    canvas.width = canvas.clientWidth * dpr;
    canvas.height = canvas.clientHeight * dpr;
    draw();
  }
  function fit() {
    const xs = graph.nodes.map(n => n.px), ys = graph.nodes.map(n => n.py);
    if (!xs.length) return;
    const minX = Math.min(...xs) - 40, maxX = Math.max(...xs) + 40;
    const minY = Math.min(...ys) - 30, maxY = Math.max(...ys) + 30;
    const w = canvas.clientWidth, h = canvas.clientHeight;
    scale = Math.min(w / (maxX - minX), h / (maxY - minY), 1.6);
    tx = (w - (maxX + minX) * scale) / 2;
    ty = (h - (maxY + minY) * scale) / 2;
  }
  function draw() {
    ctx.setTransform(dpr, 0, 0, dpr, 0, 0);
    ctx.clearRect(0, 0, canvas.clientWidth, canvas.clientHeight);
    ctx.translate(tx, ty); ctx.scale(scale, scale);
    ctx.strokeStyle = css("--edge"); ctx.lineWidth = 1 / scale;
    ctx.beginPath();
    for (const l of graph.links) {
      const s = graph.byId.get(l.source), t = graph.byId.get(l.target);
      ctx.moveTo(s.px, s.py);
      ctx.bezierCurveTo((s.px + t.px) / 2, s.py, (s.px + t.px) / 2, t.py, t.px, t.py);
    }
    ctx.stroke();
    const r = Math.max(3, 5 / Math.sqrt(scale));
    for (const n of graph.nodes) {
      ctx.beginPath();
      ctx.arc(n.px, n.py, n === hover ? r * 1.5 : r, 0, Math.PI * 2);
      ctx.fillStyle = colorOf(n);
      ctx.fill();
      ctx.lineWidth = 2 / scale;
      ctx.strokeStyle = css("--node-ring");
      ctx.stroke();
    }
    // direct labels only when sparse enough to stay readable
    if (graph.nodes.length <= 60) {
      ctx.fillStyle = css("--text-secondary");
      ctx.font = (11 / scale) + "px system-ui, sans-serif";
      for (const n of graph.nodes)
        ctx.fillText(shorten(n.label, 28), n.px + r + 4 / scale, n.py + 4 / scale);
    }
  }
  function nodeAt(mx, my) {
    const x = (mx - tx) / scale, y = (my - ty) / scale;
    const rr = Math.max(6, 8 / scale);          // hit target bigger than the mark
    let best = null, bd = rr * rr;
    for (const n of graph.nodes) {
      const d = (n.px - x) ** 2 + (n.py - y) ** 2;
      if (d < bd) { bd = d; best = n; }
    }
    return best;
  }
  const tip = document.getElementById("tooltip");
  let dragging = false, lx = 0, ly = 0, moved = false;
  canvas.addEventListener("mousedown", e => { dragging = true; moved = false; lx = e.clientX; ly = e.clientY; });
  window.addEventListener("mouseup", () => { dragging = false; });
  canvas.addEventListener("mousemove", e => {
    const rect = canvas.getBoundingClientRect();
    if (dragging) {
      tx += e.clientX - lx; ty += e.clientY - ly; lx = e.clientX; ly = e.clientY;
      moved = true; draw(); return;
    }
    const n = nodeAt(e.clientX - rect.left, e.clientY - rect.top);
    if (n !== hover) { hover = n; draw(); }
    if (n) {
      tip.innerHTML = tipHtml(n);
      tip.style.display = "block";
      tip.style.left = Math.min(e.clientX + 14, window.innerWidth - 380) + "px";
      tip.style.top = (e.clientY + 14) + "px";
    } else tip.style.display = "none";
  });
  canvas.addEventListener("mouseleave", () => { hover = null; tip.style.display = "none"; draw(); });
  canvas.addEventListener("wheel", e => {
    e.preventDefault();
    const rect = canvas.getBoundingClientRect();
    const mx = e.clientX - rect.left, my = e.clientY - rect.top;
    const f = Math.exp(-e.deltaY * 0.0015);
    tx = mx - (mx - tx) * f; ty = my - (my - ty) * f; scale *= f;
    draw();
  }, { passive: false });
  window.addEventListener("resize", resize);
  if (window.matchMedia)
    window.matchMedia("(prefers-color-scheme: dark)").addEventListener("change", draw);
  fit(); resize();
}

function esc(s) { return String(s).replace(/&/g, "&amp;").replace(/</g, "&lt;"); }
function shorten(s, n) { s = String(s == null ? "" : s); return s.length > n ? s.slice(0, n - 1) + "\\u2026" : s; }

/* ---- task DAG: all nodes one hue (identity is the label, not color) ---- */
layout(TASK_GRAPH);
makeView("taskCanvas", TASK_GRAPH, () => css("--s1"),
  n => "<b>" + esc(n.label) + "</b><div class='tt-sub'>" + esc(n.type) +
       " \\u00b7 " + esc(n.id) + "</div>");

/* ---- element lineage: colored by producing task, fold past 8 slots ---- */
layout(ELEM_GRAPH);
const taskName = new Map(TASK_GRAPH.nodes.map(t => [t.id, t.label]));
const groups = [...new Set(ELEM_GRAPH.nodes.map(n => n.group))];
const groupSlot = new Map(groups.map((g, i) => [g, i]));
const slotVar = i => i < SLOTS.length ? SLOTS[i] : "--other";
// resolved per draw, so an OS light/dark switch recolors the canvas
makeView("elemCanvas", ELEM_GRAPH, n => css(slotVar(groupSlot.get(n.group))),
  n => "<b>" + esc(shorten(n.label, 120)) + "</b><div class='tt-sub'>task: " +
       esc(taskName.get(n.group) || n.group) + "</div>");
const legend = document.getElementById("elemLegend");
groups.forEach((g, i) => {
  const item = document.createElement("span");
  item.className = "item";
  const sw = document.createElement("span");
  sw.className = "swatch";
  sw.style.background = "var(" + slotVar(i) + ")";
  item.appendChild(sw);
  item.appendChild(document.createTextNode(
    (i < SLOTS.length ? "" : "(other) ") + shorten(taskName.get(g) || g, 40)));
  legend.appendChild(item);
});
</script>
</body>
</html>
"""
  }

  /** HTML text and attribute escape (`"` too, for `href` values). */
  def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  /** A JSON string literal; `<` is escaped too, so JSON embedded in a
    * `<script>` block stays `</script>`-safe.
    */
  def jstr(s: String): String = {
    val b = new StringBuilder("\"")
    Option(s).getOrElse("").foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '<' => b ++= "\\u003c"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
