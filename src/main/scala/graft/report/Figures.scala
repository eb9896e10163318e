package graft.report

import java.awt.{BasicStroke, Color, Font, RenderingHints}
import java.awt.geom.{Ellipse2D, Line2D, Rectangle2D}
import java.awt.image.BufferedImage

import javax.imageio.ImageIO

/** G6 + the S10 figure sinks at PIXEL grain: the reference renders three
  * PNGs (`pipeline2.py:1023-1116` — volcano scatter, spring-layout
  * network, top-targets bar plot) via matplotlib/networkx; this is the
  * pure-JDK counterpart (java.awt Graphics2D + javax.imageio — no
  * external plotting stack, zero-egress-safe, the imageio/javax.sound
  * argument from the multimodal kernels).
  *
  * Scale discipline: every renderer takes COLLECTED figure data — which
  * is bounded by the figure-data sinks' own contracts (volcano = the
  * DE gene table the reference also collects to plot; network/barplot =
  * top-30/top-20 rows by construction, `Sinks.networkVizRows`/
  * `barplotRows`). Rendering is inherently a driver-side act on a
  * dimension-sized table; the scoring, subgraphing and thresholding all
  * happened upstream.
  *
  * The spring layout is Fruchterman–Reingold with the networkx
  * parameterization (`spring_layout(subgraph, seed=42)`,
  * `pipeline2.py:1074`): k = 1/√n, 50 iterations, linear cooling from
  * t = 0.1, seeded uniform initial positions, weighted attraction —
  * deterministic for a given seed (numeric parity with numpy's RNG is
  * not a goal; determinism and the FR force model are).
  */
object Figures {

  /** Deterministic Fruchterman–Reingold layout. Nodes with no edges
    * still get positions (repulsion spreads them). O(n² · iters) on the
    * driver — the caller's node set is top-N-bounded by contract.
    * Returns node → (x, y) scaled to [-1, 1]² (the networkx
    * rescale_layout convention). */
  def springLayout(nodes: Seq[String], edges: Seq[(String, String, Double)],
                   seed: Long = 42L, iterations: Int = 50)
      : Map[String, (Double, Double)] = {
    val n = nodes.size
    if (n == 0) return Map.empty
    if (n == 1) return Map(nodes.head -> ((0.0, 0.0)))
    val idx = nodes.zipWithIndex.toMap
    val rng = new java.util.Random(seed)
    val x = Array.fill(n)(rng.nextDouble())
    val y = Array.fill(n)(rng.nextDouble())
    val es = edges.collect {
      case (a, b, w) if idx.contains(a) && idx.contains(b) && a != b =>
        (idx(a), idx(b), w)
    }
    val k = 1.0 / math.sqrt(n.toDouble)
    var t = 0.1
    val dt = t / (iterations + 1)
    val dx = new Array[Double](n)
    val dy = new Array[Double](n)
    var it = 0
    while (it < iterations) {
      java.util.Arrays.fill(dx, 0.0)
      java.util.Arrays.fill(dy, 0.0)
      // repulsion: every pair, k²/d
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          val ex = x(i) - x(j); val ey = y(i) - y(j)
          val d = math.max(math.sqrt(ex * ex + ey * ey), 0.01)
          val f = k * k / d / d // force/d → multiply by (ex, ey)
          dx(i) += ex * f; dy(i) += ey * f
          dx(j) -= ex * f; dy(j) -= ey * f
          j += 1
        }
        i += 1
      }
      // attraction along edges: w · d/k
      es.foreach { case (a, b, w) =>
        val ex = x(a) - x(b); val ey = y(a) - y(b)
        val d = math.max(math.sqrt(ex * ex + ey * ey), 0.01)
        val f = w * d / k // force/d: (ex,ey) has length d, so force = w*d^2/k (FR attraction)
        dx(a) -= ex * f; dy(a) -= ey * f
        dx(b) += ex * f; dy(b) += ey * f
      }
      // displace, capped by temperature; cool linearly
      i = 0
      while (i < n) {
        val d = math.max(math.sqrt(dx(i) * dx(i) + dy(i) * dy(i)), 1e-9)
        val step = math.min(d, t) / d
        x(i) += dx(i) * step; y(i) += dy(i) * step
        i += 1
      }
      t -= dt
      it += 1
    }
    // rescale to [-1, 1]² around the centroid (networkx rescale_layout)
    val cx = x.sum / n; val cy = y.sum / n
    var lim = 1e-9
    var i = 0
    while (i < n) {
      x(i) -= cx; y(i) -= cy
      lim = math.max(lim, math.max(math.abs(x(i)), math.abs(y(i))))
      i += 1
    }
    nodes.zipWithIndex.map { case (g, j) =>
      g -> ((x(j) / lim, y(j) / lim))
    }.toMap
  }

  private def canvas(w: Int, h: Int): (BufferedImage, java.awt.Graphics2D) = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setRenderingHint(RenderingHints.KEY_ANTIALIASING,
      RenderingHints.VALUE_ANTIALIAS_ON)
    g.setRenderingHint(RenderingHints.KEY_TEXT_ANTIALIASING,
      RenderingHints.VALUE_TEXT_ANTIALIAS_ON)
    g.setColor(Color.WHITE)
    g.fillRect(0, 0, w, h)
    (img, g)
  }

  private def savePng(img: BufferedImage, path: String): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    require(ImageIO.write(img, "png", f), s"no PNG writer for $path")
  }

  /** "Nice" tick positions covering [lo, hi] (1/2/5 × 10^k steps). */
  private def ticks(lo: Double, hi: Double, target: Int = 6): Seq[Double] = {
    if (!(hi > lo)) return Seq(lo)
    val raw = (hi - lo) / target
    val mag = math.pow(10, math.floor(math.log10(raw)))
    val step = Seq(1.0, 2.0, 5.0, 10.0).map(_ * mag)
      .find(_ >= raw).getOrElse(10 * mag)
    val first = math.ceil(lo / step) * step
    Iterator.iterate(first)(_ + step).takeWhile(_ <= hi + step * 1e-9).toSeq
  }

  private val axisFont = new Font(Font.SANS_SERIF, Font.PLAIN, 18)
  private val titleFont = new Font(Font.SANS_SERIF, Font.BOLD, 24)

  /** Volcano plot (`pipeline2.py:1029-1055`): gray non-significant /
    * red significant scatter of (log2FC, −log10 adj-p), dashed blue
    * threshold lines at ±fcThreshold and −log10(pThreshold). Points
    * with non-finite y (adj-p = 0 → +∞) are clamped to the top of the
    * y range, matching what matplotlib displays. 1000×800 (the 10×8 in
    * figsize at 100 dpi). */
  def renderVolcano(points: Seq[(Double, Double, Boolean)],
                    pThreshold: Double, fcThreshold: Double,
                    path: String): Unit = {
    val W = 1000; val H = 800
    val (img, g) = canvas(W, H)
    val (ml, mr, mt, mb) = (90, 30, 60, 70) // margins
    val finite = points.filter(p => p._1.isFinite)
    val ys = finite.map(_._2).filter(_.isFinite)
    val yHiRaw = if (ys.isEmpty) 1.0 else ys.max
    val yHi = math.max(yHiRaw * 1.05, -math.log10(pThreshold) * 1.2)
    val xAbs = (finite.map(p => math.abs(p._1)) :+ fcThreshold * 1.2).max
    val (xLo, xHi) = (-xAbs * 1.05, xAbs * 1.05)
    def px(v: Double) = ml + ((v - xLo) / (xHi - xLo) * (W - ml - mr)).toInt
    def py(v: Double) = H - mb -
      ((math.min(v, yHi) / yHi) * (H - mt - mb)).toInt
    // axes + ticks
    g.setColor(Color.DARK_GRAY)
    g.setStroke(new BasicStroke(2f))
    g.draw(new Line2D.Double(ml, H - mb, W - mr, H - mb))
    g.draw(new Line2D.Double(ml, mt, ml, H - mb))
    g.setFont(axisFont)
    ticks(xLo, xHi).foreach { v =>
      g.draw(new Line2D.Double(px(v), H - mb, px(v), H - mb + 6))
      val s = f"$v%.1f"
      g.drawString(s, px(v) - g.getFontMetrics.stringWidth(s) / 2, H - mb + 24)
    }
    ticks(0, yHi).foreach { v =>
      g.draw(new Line2D.Double(ml - 6, py(v), ml, py(v)))
      val s = f"$v%.0f"
      g.drawString(s, ml - 12 - g.getFontMetrics.stringWidth(s), py(v) + 6)
    }
    g.drawString("Log2 Fold Change",
      (W - g.getFontMetrics.stringWidth("Log2 Fold Change")) / 2, H - 20)
    val at = g.getTransform
    g.rotate(-math.Pi / 2, 26, H / 2)
    g.drawString("-Log10 Adjusted P-value",
      26 - g.getFontMetrics.stringWidth("-Log10 Adjusted P-value") / 2, H / 2)
    g.setTransform(at)
    g.setFont(titleFont)
    g.drawString("Volcano Plot: Differential Expression", ml, 40)
    // threshold lines (dashed blue)
    g.setColor(new Color(31, 119, 180))
    g.setStroke(new BasicStroke(2f, BasicStroke.CAP_BUTT,
      BasicStroke.JOIN_MITER, 10f, Array(8f, 8f), 0f))
    val yThr = -math.log10(pThreshold)
    g.draw(new Line2D.Double(ml, py(yThr), W - mr, py(yThr)))
    g.draw(new Line2D.Double(px(fcThreshold), mt, px(fcThreshold), H - mb))
    g.draw(new Line2D.Double(px(-fcThreshold), mt, px(-fcThreshold), H - mb))
    // points: gray under red (significant drawn last, alpha as in ref)
    def dot(x: Double, y: Double, c: Color): Unit = {
      g.setColor(c)
      g.fill(new Ellipse2D.Double(px(x) - 4, py(y) - 4, 8, 8))
    }
    finite.filterNot(_._3).foreach(p =>
      dot(p._1, if (p._2.isFinite) p._2 else yHi, new Color(128, 128, 128, 128)))
    finite.filter(_._3).foreach(p =>
      dot(p._1, if (p._2.isFinite) p._2 else yHi, new Color(214, 39, 40, 204)))
    g.dispose()
    savePng(img, path)
  }

  /** Network figure (`pipeline2.py:1059-1094`): spring-layout positions,
    * gray edges with width ∝ weight, skyblue nodes sized by composite
    * score (score × 1000 pt² in the reference → radius here), gene
    * labels. 1200×1000 (12×10 figsize). */
  def renderNetwork(nodeSizes: Seq[(String, Double)],
                    edges: Seq[(String, String, Double)],
                    path: String, seed: Long = 42L): Unit = {
    val W = 1200; val H = 1000
    val (img, g) = canvas(W, H)
    val nodes = nodeSizes.map(_._1)
    val pos = springLayout(nodes, edges, seed)
    val m = 110
    def px(v: Double) = W / 2 + (v * (W / 2 - m)).toInt
    def py(v: Double) = H / 2 - (v * (H / 2 - m)).toInt
    g.setColor(new Color(128, 128, 128, 204))
    edges.foreach { case (a, b, w) =>
      for ((ax, ay) <- pos.get(a); (bx, by) <- pos.get(b)) {
        g.setStroke(new BasicStroke(math.max(0.8f, (w * 2).toFloat)))
        g.draw(new Line2D.Double(px(ax), py(ay), px(bx), py(by)))
      }
    }
    val sky = new Color(135, 206, 235, 230)
    g.setFont(axisFont)
    nodeSizes.foreach { case (gene, score) =>
      val (x, y) = pos(gene)
      // matplotlib node_size is pt² → radius ∝ sqrt(score·1000)
      val r = math.max(8.0, math.sqrt(math.max(score, 0.0) * 1000) * 1.2)
      g.setColor(sky)
      g.fill(new Ellipse2D.Double(px(x) - r, py(y) - r, 2 * r, 2 * r))
      g.setColor(Color.BLACK)
      g.drawString(gene, px(x) - g.getFontMetrics.stringWidth(gene) / 2,
        py(y) + 6)
    }
    g.setFont(titleFont)
    g.setColor(Color.DARK_GRAY)
    g.drawString("Top Genes Network", m, 50)
    g.dispose()
    savePng(img, path)
  }

  /** Top-targets horizontal bar plot (`pipeline2.py:1096-1114`):
    * composite score per gene, viridis-like gradient down the rows.
    * 1200×800 (12×8 figsize). */
  def renderBarplot(targets: Seq[(String, Double)], path: String): Unit = {
    val W = 1200; val H = 800
    val (img, g) = canvas(W, H)
    val (ml, mr, mt, mb) = (170, 40, 70, 70)
    val n = targets.size
    if (n > 0) {
      val maxV = math.max(targets.map(_._2).max, 1e-9)
      val band = (H - mt - mb).toDouble / n
      // 5-stop viridis approximation interpolated down the rows
      val stops = Array(
        new Color(68, 1, 84), new Color(59, 82, 139),
        new Color(33, 145, 140), new Color(94, 201, 98),
        new Color(253, 231, 37))
      def viridis(f: Double): Color = {
        val p = math.min(math.max(f, 0.0), 1.0) * (stops.length - 1)
        val i = math.min(p.toInt, stops.length - 2)
        val t = p - i
        def mix(a: Int, b: Int) = (a + (b - a) * t).round.toInt
        new Color(mix(stops(i).getRed, stops(i + 1).getRed),
          mix(stops(i).getGreen, stops(i + 1).getGreen),
          mix(stops(i).getBlue, stops(i + 1).getBlue))
      }
      g.setFont(axisFont)
      targets.zipWithIndex.foreach { case ((gene, v), i) =>
        val y = mt + i * band
        val wBar = (v / maxV * (W - ml - mr)).max(0).toInt
        g.setColor(viridis(if (n == 1) 0.0 else i.toDouble / (n - 1)))
        g.fill(new Rectangle2D.Double(ml, y + band * 0.12, wBar, band * 0.76))
        g.setColor(Color.DARK_GRAY)
        g.drawString(gene, ml - 10 - g.getFontMetrics.stringWidth(gene),
          (y + band * 0.5 + 6).toInt)
      }
      g.setColor(Color.DARK_GRAY)
      g.setStroke(new BasicStroke(2f))
      g.draw(new Line2D.Double(ml, mt, ml, H - mb))
      g.draw(new Line2D.Double(ml, H - mb, W - mr, H - mb))
      ticks(0, maxV).foreach { v =>
        val x = ml + (v / maxV * (W - ml - mr)).toInt
        g.draw(new Line2D.Double(x, H - mb, x, H - mb + 6))
        val s = f"$v%.2f"
        g.drawString(s, x - g.getFontMetrics.stringWidth(s) / 2, H - mb + 24)
      }
      g.drawString("Composite Network Score",
        (W - g.getFontMetrics.stringWidth("Composite Network Score")) / 2,
        H - 20)
      g.setFont(titleFont)
      g.drawString(s"Top $n Potential Drug Targets", ml, 45)
    }
    g.dispose()
    savePng(img, path)
  }
}
